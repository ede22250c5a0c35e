package graft.operators

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class MergeSpec extends SparkSpecBase {
  import spark.implicits._

  private def target = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
  ).toDF("id", "name", "v")

  private def updates = Seq(
    (2L, "b2", 99.0),  // update existing key
    (4L, "d", 40.0)    // brand-new key
  ).toDF("id", "name", "v")

  test("updates win over target rows; new keys insert; others pass through") {
    val out = Merge.mergeInto(target, updates, Seq("id"))
      .orderBy("id").as[(Long, String, Double)].collect()
    assert(out === Array(
      (1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("merge is idempotent: applying the same updates twice == once") {
    val once = Merge.mergeInto(target, updates, Seq("id"))
    val twice = Merge.mergeInto(once, updates, Seq("id"))
    assert(twice.orderBy("id").collect() === once.orderBy("id").collect())
  }

  test("composite keys dedupe on the full key tuple") {
    val t = Seq((1L, "2024-01-01", 1.0), (1L, "2024-01-02", 2.0))
      .toDF("k", "day", "v")
    val u = Seq((1L, "2024-01-02", 20.0)).toDF("k", "day", "v")
    val out = Merge.mergeInto(t, u, Seq("k", "day"))
      .orderBy("k", "day").as[(Long, String, Double)].collect()
    assert(out === Array((1L, "2024-01-01", 1.0), (1L, "2024-01-02", 20.0)))
  }

  test("versionCol: the highest version wins regardless of side") {
    val t = Seq((1L, 5L, "newer-in-target")).toDF("id", "ver", "tag")
    val u = Seq((1L, 3L, "older-update")).toDF("id", "ver", "tag")
    val out = Merge.mergeInto(t, u, Seq("id"), versionCol = Some("ver"))
      .as[(Long, Long, String)].collect()
    assert(out === Array((1L, 5L, "newer-in-target")))
  }

  test("highWaterMark and newerThan implement the incremental filter") {
    val t = Seq((1L, 10L), (2L, 20L)).toDF("id", "created")
    val u = Seq((3L, 15L), (4L, 25L)).toDF("id", "created")
    assert(Incremental.highWaterMark(t, "created").contains(20L))
    val fresh = Incremental.newerThan(u, t, "created")
      .as[(Long, Long)].collect()
    assert(fresh === Array((4L, 25L)))
    // empty target → everything passes
    val empty = t.filter(lit(false))
    assert(Incremental.newerThan(u, empty, "created").count() === 2)
  }

  test("mergeWrite rewrites only touched partitions (O(delta) daily merge)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mergewrite").toString + "/t"
    val day1 = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b")).toDF("id", "day", "v")
    val day2 = Seq((3L, "2024-01-02", "c")).toDF("id", "day", "v")
    Merge.mergeWrite(spark, dir, day1.unionByName(day2), Seq("id"), "day")

    def partFiles(day: String): Map[String, Long] =
      new java.io.File(s"$dir/day=$day").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val day1Before = partFiles("2024-01-01")

    // update only day 2: an upsert + an insert
    val updates = Seq((3L, "2024-01-02", "c2"), (4L, "2024-01-02", "d"))
      .toDF("id", "day", "v")
    Merge.mergeWrite(spark, dir, updates, Seq("id"), "day")

    // day-1 files are byte-for-byte untouched (same names, same mtimes)
    assert(partFiles("2024-01-01") === day1Before)
    // day-2 reflects the merge
    assert(spark.read.parquet(dir).orderBy("id")
      .select("id", "v").as[(Long, String)].collect() ===
      Array((1L, "a"), (2L, "b"), (3L, "c2"), (4L, "d")))
  }

  test("schema evolution: AppendNewColumns grows the schema, Ignore conforms") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val updates = Seq((2L, "b2", 20.0), (3L, "c", 30.0)).toDF("id", "v", "extra")
    // default (Ignore): extra update columns silently dropped — dbt default
    val ignored = Merge.mergeInto(target, updates, Seq("id"))
    assert(ignored.columns.toSeq === Seq("id", "v"))
    // append_new_columns: schema grows; pre-existing rows read null
    val grown = Merge.mergeInto(target, updates, Seq("id"),
      onSchemaChange = Merge.AppendNewColumns)
      .orderBy("id").as[(Long, String, Option[Double])].collect()
    assert(grown === Array((1L, "a", None), (2L, "b2", Some(20.0)),
      (3L, "c", Some(30.0))))
    // and updates MISSING a target column carry null rather than erroring
    val narrow = Seq((2L, 99.9)).toDF("id", "extra")
    val filled = Merge.mergeInto(
      target, narrow, Seq("id"), onSchemaChange = Merge.AppendNewColumns)
      .orderBy("id").as[(Long, Option[String], Option[Double])].collect()
    assert(filled === Array((1L, Some("a"), None), (2L, None, Some(99.9))))
  }

  test("mergeWrite preserves existing rows in the NULL partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-null").toString + "/t"
    val base = Seq((1L, Some("2024-01-01"), "a"), (2L, None: Option[String], "b"))
      .toDF("id", "day", "v")
    Merge.mergeWrite(spark, dir, base, Seq("id"), "day")
    // second merge touches ONLY the null partition with a new key —
    // key 2's existing null-partition row must survive the overwrite
    val upd = Seq((3L, None: Option[String], "c")).toDF("id", "day", "v")
    Merge.mergeWrite(spark, dir, upd, Seq("id"), "day")
    val out = spark.read.parquet(dir).orderBy("id")
      .select("id", "v").as[(Long, String)].collect()
    assert(out === Array((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("mergeWrite keeps numeric-looking STRING partition values stable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-str").toString + "/t"
    val base = Seq((1L, "00123", "a")).toDF("id", "pc", "v")
    Merge.mergeWrite(spark, dir, base, Seq("id"), "pc")
    // without inference-off + cast, '00123' re-infers as int 123 and the
    // rewrite lands in a DIFFERENT directory, duplicating the key
    val upd = Seq((1L, "00123", "a2")).toDF("id", "pc", "v")
    Merge.mergeWrite(spark, dir, upd, Seq("id"), "pc")
    val out = spark.read.option("basePath", dir).parquet(dir)
    assert(out.count() === 1)
    assert(new java.io.File(s"$dir/pc=00123").exists())
    assert(!new java.io.File(s"$dir/pc=123").exists())
  }

  test("deleteWrite: rewrites only matched partitions, removes emptied ones, idempotent") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-del").toString + "/t"
    val rows = Seq(
      (1L, "d1", "a"), (2L, "d1", "b"), (3L, "d1", "c"),
      (4L, "d2", "d"), (5L, "d2", "e"),
      (6L, "d3", "f"), (7L, "d3", "g"))
    rows.toDF("id", "day", "v").write.partitionBy("day").parquet(dir)
    def files(p: String): Map[String, Long] = {
      val d = new java.io.File(p)
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val d3Before = files(s"$dir/day=d3")
    assert(d3Before.nonEmpty)
    // delete 2 of 3 rows in d1, ALL of d2, none of d3
    val stats = Merge.deleteWrite(spark, dir,
      Seq(1L, 2L, 4L, 5L).toDF("id"), Seq("id"), "day")
    assert(stats.rewritten === Seq("d1"))
    assert(stats.removed === Seq("d2"))
    assert(stats.untouched === 1L)
    val got = spark.read.parquet(dir).select("id", "day", "v")
      .as[(Long, String, String)].collect().toSet
    assert(got === Set((3L, "d1", "c"), (6L, "d3", "f"), (7L, "d3", "g")))
    // untouched partition's files are bit-for-bit the same files
    assert(files(s"$dir/day=d3") === d3Before)
    // emptied partition directory is GONE, not an empty husk
    assert(!new java.io.File(s"$dir/day=d2").exists())
    // idempotent: same keys again touch nothing
    val again = Merge.deleteWrite(spark, dir,
      Seq(1L, 2L, 4L, 5L).toDF("id"), Seq("id"), "day")
    assert(again.rewritten.isEmpty && again.removed.isEmpty)
    assert(spark.read.parquet(dir).count() === 3L)
  }

  test("deleteWrite: no matches anywhere is a clean no-op") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-del2").toString + "/t"
    Seq((1L, "d1", "a")).toDF("id", "day", "v")
      .write.partitionBy("day").parquet(dir)
    val stats = Merge.deleteWrite(spark, dir,
      Seq(99L).toDF("id"), Seq("id"), "day")
    assert(stats.rewritten.isEmpty && stats.removed.isEmpty &&
      stats.untouched === 1L)
    assert(spark.read.parquet(dir).count() === 1L)
  }

  test("mergeWrite leaves no staging directory behind") {
    val parent = java.nio.file.Files.createTempDirectory("graft-merge-stage").toString
    val dir = parent + "/t"
    Merge.mergeWrite(spark, dir,
      Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b")).toDF("id", "day", "v"),
      Seq("id"), "day")
    Merge.mergeWrite(spark, dir,
      Seq((1L, "2024-01-01", "a2")).toDF("id", "day", "v"), Seq("id"), "day")
    Merge.deleteWrite(spark, dir, Seq(1L).toDF("id"), Seq("id"), "day")
    assert(spark.read.parquet(dir).select("id").as[Long].collect() === Array(2L))
    val walk = java.nio.file.Files.walk(java.nio.file.Path.of(parent))
    val leftovers =
      try walk.iterator().asScala.map(_.getFileName.toString).filter(n =>
        n.contains("_merge_stage_") || n.contains("_delete_stage_") ||
          n.startsWith(".spark-staging")).toList
      finally walk.close()
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("mergeWrite is partition-local: rows match on (partition, key)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-local").toString + "/t"
    Merge.mergeWrite(spark, dir,
      Seq((1L, "d1", "a"), (2L, "d1", "b")).toDF("id", "day", "v"), Seq("id"), "day")
    // key 2 updates in place; key 1 also arrives in d2, against the
    // stable-partition contract: it gains a d2 row and keeps its d1 row
    Merge.mergeWrite(spark, dir,
      Seq((2L, "d1", "b2"), (1L, "d2", "a2")).toDF("id", "day", "v"), Seq("id"), "day")
    val out = spark.read.parquet(dir).select("id", "day", "v")
      .as[(Long, String, String)].collect().toSet
    assert(out === Set((1L, "d1", "a"), (2L, "d1", "b2"), (1L, "d2", "a2")))
  }

  /** Shuffle exchanges in each parquet write planned while `body` runs,
    * read from the executed (adaptive) plans. */
  private def writeShuffles(body: => Unit): Seq[Int] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // every node, through adaptive plans and their query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o.children.flatMap(nodes)
    })
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[Int]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = nodes(qe.executedPlan)
        if (plan.exists(_.isInstanceOf[DataWritingCommandExec]))
          seen.add(plan.count(_.isInstanceOf[ShuffleExchangeExec]))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graftspark.TestListenerBus.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graftspark.TestListenerBus.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  test("mergeWrite plans exactly one shuffle: mart-shaped and staging-shaped") {
    val root = java.nio.file.Files.createTempDirectory("graft-merge-plan").toString
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    // mart shape: composite key holding the partition column, cluster columns
    val mart = root + "/mart"
    Merge.mergeWrite(spark, mart,
      Seq(("li1", d1, "c1", 1.0), ("li1", d2, "c1", 2.0), ("li2", d1, "c2", 3.0))
        .toDF("line_item_id", "as_of_date", "customer_id", "v"),
      Seq("line_item_id", "as_of_date"), "as_of_date", Seq("customer_id"))
    val martUpd = Seq(("li1", d2, "c1", 20.0), ("li3", d2, "c3", 4.0))
      .toDF("line_item_id", "as_of_date", "customer_id", "v")
    assert(writeShuffles(Merge.mergeWrite(spark, mart, martUpd,
      Seq("line_item_id", "as_of_date"), "as_of_date", Seq("customer_id"))) === Seq(1))
    assert(spark.read.parquet(mart).select("line_item_id", "v").as[(String, Double)]
      .collect().toSet === Set(("li1", 1.0), ("li1", 20.0), ("li2", 3.0), ("li3", 4.0)))
    // staging shape: one key, no cluster columns
    val stg = root + "/stg"
    Merge.mergeWrite(spark, stg,
      Seq(("a", d1, 1L), ("b", d2, 2L)).toDF("id", "created_at_date", "v"),
      Seq("id"), "created_at_date")
    val stgUpd = Seq(("b", d2, 20L), ("c", d2, 3L)).toDF("id", "created_at_date", "v")
    assert(writeShuffles(Merge.mergeWrite(spark, stg, stgUpd, Seq("id"),
      "created_at_date")) === Seq(1))
    assert(spark.read.parquet(stg).select("id", "v").as[(String, Long)]
      .collect().toSet === Set(("a", 1L), ("b", 20L), ("c", 3L)))
    // one writer per touched partition: one file each
    def files(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files(s"$mart/as_of_date=2024-01-02") === 1)
    assert(files(s"$stg/created_at_date=2024-01-02") === 1)
  }

  test("concurrent mergeWrites keep partition types and never touch session conf") {
    val root = java.nio.file.Files.createTempDirectory("graft-merge-race").toString
    val strDir = root + "/str"
    val dateDir = root + "/date"
    val readDir = root + "/read"
    def day(d: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, d))
    Merge.mergeWrite(spark, strDir, Seq((1L, "00123", "a")).toDF("id", "pc", "v"),
      Seq("id"), "pc")
    Merge.mergeWrite(spark, dateDir, Seq((1L, day(1), "a")).toDF("id", "day", "v"),
      Seq("id"), "day")
    Seq((1L, day(1)), (2L, day(2))).toDF("id", "day").write.partitionBy("day").parquet(readDir)
    val inference = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val before = spark.conf.get(inference)
    val rounds = 3
    val mergesLeft = new java.util.concurrent.CountDownLatch(2)
    val readTypes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Par.concurrently(
      () => try (1 to rounds).foreach(i => Merge.mergeWrite(spark, strDir,
        Seq((1L, "00123", s"a$i")).toDF("id", "pc", "v"), Seq("id"), "pc"))
      finally mergesLeft.countDown(),
      () => try (1 to rounds).foreach(i => Merge.mergeWrite(spark, dateDir,
        Seq((1L, day(1), s"a$i"), (i + 1L, day(i + 1), "n")).toDF("id", "day", "v"),
        Seq("id"), "day"))
      finally mergesLeft.countDown(),
      // a third reader opens a date-partitioned table throughout
      () => do readTypes.add(spark.read.parquet(readDir).schema("day").dataType.typeName)
        while (mergesLeft.getCount > 0))
    assert(readTypes.asScala === Set("date"))
    assert(spark.conf.get(inference) === before)
    assert(new java.io.File(strDir).list().filter(_.startsWith("pc=")).toSeq === Seq("pc=00123"))
    assert(spark.read.parquet(strDir).select("id", "v").as[(Long, String)].collect() ===
      Array((1L, s"a$rounds")))
    val dated = spark.read.parquet(dateDir)
    assert(dated.schema("day").dataType === org.apache.spark.sql.types.DateType)
    assert(dated.count() === rounds + 1L)
  }
}
