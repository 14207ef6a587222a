package graftbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.plans.GraftSql
import graft.sources.{AggReplica, Sinks, VersionedTable}

/** A closed-loop workload: untimed setup, then timed passes until the run's
  * time is up, then untimed dumps for the output checks. */
trait Workload {
  def setup(h: Harness): Unit
  def pass(h: Harness, p: Int): Unit
  /** Untimed: write what the output checks compare; returns extra JSON fields. */
  def finish(h: Harness): Seq[(String, String)]
}

object Workload {
  /** Collect a frame's rows (the timed part) and keep its schema. */
  def collected(df: DataFrame): (org.apache.spark.sql.types.StructType, Array[Row]) =
    (df.schema, df.collect())

  def dump(spark: SparkSession, res: (org.apache.spark.sql.types.StructType, Array[Row]),
      path: String): Unit =
    spark.createDataFrame(res._2.toSeq.asJava, res._1)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** (path, bytes) of every file under `root`. */
  def listFiles(spark: SparkSession, root: String): Map[String, Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val s = it.next(); b += s.getPath.toString -> s.getLen }
      b.result()
    }
  }

  /** Bytes of the data files the current snapshot of `root` references. */
  def liveBytes(spark: SparkSession, root: String): Long = {
    val v = VersionedTable.currentVersion(spark, root).get
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    VersionedTable.dataFileRefs(spark, root, v)
      .map(r => fs.getFileStatus(new Path(root, r)).getLen).sum
  }
}

/** The reference's production loop: each hour a staged change batch is
  * truncate-loaded, MERGEd into a versioned mart with soft-delete
  * semantics, folded into an SCD2 dimension, rolled up by a materialized
  * view, read back (point lookups, time travel, change feed), and every
  * few hours the tables are optimized and vacuumed. */
final class HourlyEtl(data: String, work: String, seed: Long) extends Workload {
  private val mart = s"$work/tables/mart"
  private val scd = s"$work/tables/scd"
  private val mv = s"$work/tables/mv_status"
  private val staging = s"$work/staging"
  private val roots = Seq(mart, scd, mv)
  private val rnd = new Random(seed)
  /** OPTIMIZE and VACUUM run on odd timed hours, so the first traced pass
    * of a traced run (pass 1, hour 3) includes them. */
  private val MaintainEvery = 2
  /** The time-travel read goes back to the previous hour's MERGE, and
    * VACUUM keeps just the versions that read can still need. */
  private val TravelBack = 1
  private val KeepVersions = TravelBack + 1
  private val WarmupHours = 1
  private var hour = 0
  private val martVersion = scala.collection.mutable.Map.empty[Int, Long]
  private val applied = scala.collection.mutable.ArrayBuffer.empty[Int]
  /** Files seen under the table roots: at window start, and before every
    * vacuum and at the end (vacuum is the only deleter, so nothing created
    * in between goes unseen). */
  private var baseFiles = Map.empty[String, Long]
  private var seenFiles = Map.empty[String, Long]
  private var stagedBytes = 0L
  private var timedHours = 0

  private def ts(h: Int): String = {
    val t = java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusHours(h.toLong)
    t.toString.replace('T', ' ') + ":00"
  }
  private def tsCol(h: Int): Column = lit(ts(h)).cast("timestamp")
  private def batchPath(h: Int) = f"$data/hours/h$h%04d.parquet"
  private def readBatch(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))

  private def snapshotFiles(spark: SparkSession): Map[String, Long] =
    roots.flatMap(Workload.listFiles(spark, _)).toMap

  /** An operation that may commit; traced passes count the versions it
    * publishes (untimed). */
  private def commitOp[T](h: Harness, kind: String, cls: String, p: Int)(body: => T): Option[T] = {
    def published = roots.map(VersionedTable.currentVersion(h.spark, _).getOrElse(0L)).sum
    val before = if (h.traced) published else 0L
    val r = h.op(kind, cls, p)(body)
    if (h.traced) h.fact("commits", (published - before).toDouble)
    r
  }

  def setup(h: Harness): Unit = {
    val spark = h.spark
    val seedDf = readBatch(spark, s"$data/mart_seed.parquet")
    martVersion(0) = Sinks.upsertByKeyVersionedCow(spark, mart, seedDf, "id", tsCol(0),
      "last_status", "F")
    VersionedTable.commit(seedDf.select(col("id"), col("last_status"),
      tsCol(0).as("valid_from"), lit("9999-12-31 23:59:59").cast("timestamp").as("valid_to"),
      lit(true).as("is_current")), scd)
    GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT last_status, count(*) AS n_rows, sum(o_totalprice) AS value_sum
         |FROM '$mart' GROUP BY last_status""".stripMargin)
    // warm-up hours run the full cycle untimed; the checks replay them too
    (1 to WarmupHours).foreach(_ => cycle(h, -1))
    baseFiles = snapshotFiles(spark)
    seenFiles = baseFiles
  }

  def pass(h: Harness, p: Int): Unit = cycle(h, p)

  private def cycle(h: Harness, p: Int): Unit = {
    val spark = h.spark
    hour += 1
    val hr = hour
    val timed = p >= 0
    if (timed) {
      timedHours += 1
      stagedBytes += Workload.listFiles(spark, batchPath(hr)).values.sum
    }
    val ok = Array.fill(3)(false)
    h.op("stage_load", "write", p) {
      h.span("sources.commit")(Sinks.truncateLoad(spark.read.parquet(batchPath(hr)), staging))
    }.foreach(_ => ok(0) = true)
    commitOp(h, "merge", "write", p) {
      h.span("sources.commit")(Sinks.upsertByKeyVersionedCow(spark, mart,
        readBatch(spark, staging), "id", tsCol(hr), "last_status", "F"))
    }.foreach { v => martVersion(hr) = v; ok(1) = true }
    commitOp(h, "scd2", "write", p) {
      val stg = spark.read.parquet(staging).select(col("id"), col("last_status"))
      val cur = VersionedTable.read(spark, scd).where(col("is_current")).select(col("id"))
      stg.select(col("id").as("merge_key"), col("id"), col("last_status"))
        .unionByName(stg.join(cur, Seq("id"))
          .select(lit(null).cast("bigint").as("merge_key"), col("id"), col("last_status")))
        .createOrReplaceTempView("perfbench_scd_src")
      h.span("plans.sql")(GraftSql.execute(spark,
        s"""MERGE INTO `$scd` AS t USING perfbench_scd_src AS s
           |ON t.id = s.merge_key AND t.is_current = true
           |WHEN MATCHED THEN UPDATE SET valid_to = TIMESTAMP '${ts(hr)}', is_current = false
           |WHEN NOT MATCHED THEN INSERT (id, last_status, valid_from, valid_to, is_current)
           |  VALUES (s.id, s.last_status, TIMESTAMP '${ts(hr)}',
           |          TIMESTAMP '9999-12-31 23:59:59', true)""".stripMargin).collect())
    }.foreach(_ => ok(2) = true)
    commitOp(h, "mv_refresh", "write", p) {
      h.span("sources.mv_refresh")(AggReplica.refreshView(spark, mv))
    }
    if (ok.forall(identity)) applied += hr
    // reads: current-state point lookups, a time-travel read and the feed
    Seq.fill(3)(rnd.nextInt(150000).toLong).foreach { k =>
      h.op("lookup", "read", p) {
        h.span("sources.read")(VersionedTable.readWhere(spark, mart, col("id") === k)
          .select(col("id"), col("last_status"), col("deleted_at").isNull.as("live")).collect())
      }.foreach { rows =>
        h.digest(Json.obj("kind" -> Json.str("lookup"), "hour" -> hr.toString,
          "key" -> k.toString, "rows" -> Json.arr(rows.map(Json.row))))
        if (h.traced) pruneFacts(h, mart, col("id") === k)
      }
    }
    val back = math.max(0, hr - TravelBack)
    martVersion.get(back).foreach { v =>
      h.op("time_travel", "read", p) {
        h.span("plans.sql")(GraftSql.execute(spark,
          s"SELECT last_status, count(*) AS n FROM '$mart' VERSION AS OF $v " +
            "GROUP BY last_status ORDER BY last_status").collect())
      }.foreach { rows =>
        h.digest(Json.obj("kind" -> Json.str("time_travel"), "hour" -> back.toString,
          "rows" -> Json.arr(rows.map(Json.row))))
      }
    }
    martVersion.get(hr).foreach { v =>
      h.op("changes", "read", p) {
        h.span("sources.read")(VersionedTable.readChanges(spark, mart, v, v)
          .groupBy(col("_change_type")).count().orderBy(col("_change_type")).collect())
      }.foreach { rows =>
        h.digest(Json.obj("kind" -> Json.str("changes"), "hour" -> hr.toString,
          "rows" -> Json.arr(rows.map(Json.row))))
      }
    }
    if (timed && hr % MaintainEvery == 1) {
      val before = if (h.traced) snapshotFiles(spark) else Map.empty[String, Long]
      commitOp(h, "optimize", "maint", p) {
        h.span("sources.maintenance") {
          VersionedTable.optimize(spark, mart, Seq("id"), targetFileBytes = 1L << 20)
          VersionedTable.optimize(spark, scd, Seq("id"), targetFileBytes = 1L << 20)
        }
      }
      seenFiles ++= snapshotFiles(spark)
      if (h.traced)
        h.fact("maintenance_bytes_rewritten",
          snapshotFiles(spark).filter { case (f, _) => !before.contains(f) }.values.sum.toDouble)
      h.op("vacuum", "maint", p) {
        h.span("sources.maintenance")(
          roots.foreach(VersionedTable.vacuum(spark, _, keepLast = KeepVersions)))
      }
    }
  }

  private def pruneFacts(h: Harness, root: String, pred: Column): Unit = {
    val v = VersionedTable.currentVersion(h.spark, root).get
    h.fact("files_considered", VersionedTable.dataFileRefs(h.spark, root, v).size.toDouble)
    h.fact("files_kept", VersionedTable.prunedFileRefs(h.spark, root, v, pred).size.toDouble)
  }

  def finish(h: Harness): Seq[(String, String)] = {
    val spark = h.spark
    val end = snapshotFiles(spark)
    val all = seenFiles ++ end
    val created = all.filter { case (f, _) => !baseFiles.contains(f) }.values.sum
    val live = roots.map(Workload.liveBytes(spark, _)).sum
    VersionedTable.read(spark, mart).write.parquet(s"$work/check/mart")
    VersionedTable.read(spark, scd).write.parquet(s"$work/check/scd")
    VersionedTable.read(spark, mv).select(col("last_status"), col("n_rows"), col("value_sum"))
      .write.parquet(s"$work/check/mv")
    Seq(
      "applied_hours" -> Json.arr(applied.map(_.toString)),
      "hours_run" -> hour.toString,
      "timed_hours" -> timedHours.toString,
      "bytes_written" -> created.toString,
      "bytes_staged" -> stagedBytes.toString,
      "bytes_under_roots" -> end.values.sum.toString,
      "bytes_live" -> live.toString,
      "log_versions" -> VersionedTable.versions(spark, mart).size.toString)
  }
}

/** Read-only analytics: the SparkEntry analytic keys in a seeded order,
  * each followed by selective lookups through the data-skipping read path
  * of a clustered versioned copy of lineitem. */
final class AnalyticsRead(data: String, work: String, seed: Long) extends Workload {
  val keys: Seq[String] = Seq("q1_pricing_summary", "q10_star_join", "q11_topk_per_group",
    "q12_rollup", "q12b_cube", "q13_sessionize", "q14_asof_join", "q15_range_join",
    "q16_window_running", "q17_percentile", "q18_semi_anti", "q19_pivot",
    "q20_count_distinct", "q21_setops", "q24_pit_join")
  private val li = s"$work/tables/lineitem"
  private val rnd = new Random(seed)
  private val results = scala.collection.mutable.Map.empty[String,
    (org.apache.spark.sql.types.StructType, Array[Row])]
  private val LookupsPerQuery = 2

  def setup(h: Harness): Unit = {
    VersionedTable.commit(h.spark.read.parquet(s"$data/lineitem.parquet"), li)
    VersionedTable.optimize(h.spark, li, Seq("l_orderkey"), targetFileBytes = 1L << 20)
    // warm Spark's common query and read paths; each key still runs cold
    // in the timed pass, as a user's first query of that shape does
    SparkEntry.queries("q1_pricing_summary")(h.spark, data).collect()
    (1 to 10).foreach { i =>
      VersionedTable.readWhere(h.spark, li, col("l_orderkey").between(i * 1000L, i * 1000L + i))
        .select(col("l_orderkey"), col("l_extendedprice")).collect()
    }
  }

  def pass(h: Harness, p: Int): Unit =
    rnd.shuffle(keys).foreach { key =>
      h.op(s"q:$key", "read", p) {
        h.span(s"queries.$key")(Workload.collected(SparkEntry.queries(key)(h.spark, data)))
      }.foreach(res => if (!results.contains(key)) results(key) = res)
      (1 to LookupsPerQuery).foreach { i =>
        val lo = rnd.nextInt(150000).toLong
        val (kind, pred) =
          if (i % 2 == 1) ("lookup_point", col("l_orderkey") === lo)
          else ("lookup_range", col("l_orderkey").between(lo, lo + 300))
        val hi = if (kind == "lookup_point") lo else lo + 300
        h.op(kind, "read", p) {
          h.span("sources.read")(VersionedTable.readWhere(h.spark, li, pred)
            .select(col("l_orderkey"), col("l_extendedprice")).collect())
        }.foreach { rows =>
          h.digest(Json.obj("kind" -> Json.str("lookup"), "lo" -> lo.toString,
            "hi" -> hi.toString, "n" -> rows.length.toString,
            "sum" -> Json.num(rows.map(_.getDouble(1)).sum)))
          if (h.traced) {
            val v = VersionedTable.currentVersion(h.spark, li).get
            h.fact("files_considered", VersionedTable.dataFileRefs(h.spark, li, v).size.toDouble)
            h.fact("files_kept", VersionedTable.prunedFileRefs(h.spark, li, v, pred).size.toDouble)
          }
        }
      }
    }

  def finish(h: Harness): Seq[(String, String)] = {
    results.foreach { case (key, res) => Workload.dump(h.spark, res, s"$work/check/q/$key") }
    Seq("oracle_sql" -> Json.obj(keys.flatMap(k =>
      SparkEntry.oracleSql.get(k).map(sql => k -> Json.str(sql))): _*))
  }
}
