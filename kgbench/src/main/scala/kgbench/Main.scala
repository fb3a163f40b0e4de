package kgbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** One measured operation: a refresh iteration or a serving request. */
final case class Op(index: Int, wallS: Double, ok: Boolean, problems: Seq[String],
                    spans: Map[String, SpanStats], extra: Map[String, Any])

/** The benchmark's JVM side: runs one workload against the engine's
  * public functions, times each operation, checks every output outside
  * the timed region and writes the raw samples as JSON for run.py, which
  * turns them into metrics.
  *
  * Usage: kgbench.Main --workload W --trace 0|1 --seconds S --min-ops N
  *   --setup-rounds K --data DIR --work DIR --requests FILE --out FILE
  */
object Main {
  val Cores = 4
  val CandidateCap = 2000
  /** The four strategies and the catalog entries whose oracle SQL mirrors them. */
  val Strategies = Seq("diverse" -> "rec_q1_diverse", "softmax" -> "rec_q2_softmax",
    "stochastic" -> "rec_q3_stochastic", "adam" -> "rec_q4_adam")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val h = new Harness(a("workload"), a("trace") == "1", a("seconds").toDouble,
      a("min-ops").toInt, a("setup-rounds").toInt, a("data"), a("work"))
    val reqs = scala.io.Source.fromFile(a("requests")).getLines().map(_.split("\t").toSeq).toSeq
    val calibBefore = Harness.cpuCalib(Cores)
    val body = a("workload") match {
      case "refresh" => new Refresh(h).run()
      case "serve-interactive" => new Serve(h, batch = false).run(reqs)
      case "serve-batch" => new Serve(h, batch = true).run(reqs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val calibAfter = Harness.cpuCalib(Cores)
    h.stop()
    val doc = body ++ Map(
      "workload" -> a("workload"), "trace" -> h.tracer.enabled,
      "calib_s" -> Seq(calibBefore, calibAfter),
      "setup_s" -> h.setupS.toSeq, "setup_once_s" -> h.setupOnceS)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    mapper.writeValue(new java.io.File(a("out")), doc)
  }

  /** Fields of an op for the result file. */
  def opJson(o: Op): Map[String, Any] = Map(
    "i" -> o.index, "wall_s" -> o.wallS, "ok" -> o.ok, "problems" -> o.problems,
    "spans" -> o.spans.map { case (k, s) => k -> Map(
      "wall_s" -> s.wallS, "driver_s" -> s.driverS, "tasks" -> s.tasks, "cpu_s" -> s.cpuS,
      "shuffle_bytes" -> s.shuffleBytes,
      "spill_bytes" -> s.spillBytes, "output_bytes" -> s.outputBytes, "skew" -> s.skew,
      "jobs" -> s.jobs) }) ++ o.extra

  /** Structural check of a top-k response: at most `topN` distinct ranks
    * per customer, ranks 1..n, probabilities in (0, 1]. */
  def checkTopK(rows: Seq[Row], customers: Set[Long], topN: Int): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    if (rows.isEmpty) bad += "empty response"
    rows.groupBy(_.getAs[Long]("customer")).foreach { case (c, rs) =>
      if (!customers.contains(c)) bad += s"customer $c outside the request"
      val ranks = rs.map(_.getAs[Int]("rank")).sorted
      if (ranks.size > topN || ranks != (1 to ranks.size)) bad += s"customer $c ranks $ranks"
      rs.foreach { r =>
        val p = r.getAs[Double]("prob")
        if (!(p > 0.0 && p <= 1.0)) bad += s"customer $c prob $p"
      }
    }
    bad.take(5).toSeq
  }

  /** Recommend.enrich over collected top-k rows, collected. */
  def enrich(spark: SparkSession, dir: String, recs: Seq[Row], month: Int): Seq[Row] =
    graft.recommend.Recommend.enrich(spark, dir,
      spark.createDataFrame(recs.asJava, recs.head.schema), month).collect().toSeq

  /** Enrichment keeps every recommendation and gives each a message and
    * a positive price. */
  def checkEnrich(enriched: Seq[Row], recs: Seq[Row]): Seq[String] =
    (if (enriched.size != recs.size)
      Seq(s"enrich: ${enriched.size} rows for ${recs.size} recommendations") else Nil) ++
    (if (enriched.exists(r => r.getAs[String]("message") == null || r.getAs[Double]("final_price") <= 0))
      Seq("enrich: missing message or non-positive price") else Nil)

  def rowsJson(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(r => Seq(r.getAs[Long]("customer"), r.getAs[Int]("rank"),
      r.getAs[Long]("product"), r.getAs[String]("category"), r.getAs[Double]("prob")))
}

/** Session, tracing and set-up bookkeeping shared by the workloads. */
final class Harness(val workload: String, trace: Boolean, val seconds: Double,
                    val minOps: Int, val setupRounds: Int, val dataDir: String,
                    val workDir: String) {
  val tracer = new Tracer(trace)
  /** Set-up rounds (setup_s is their median plus setupOnceS). */
  val setupS = ArrayBuffer.empty[Double]
  var setupOnceS = 0.0
  private val jvmToMain = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Runs `body` `setupRounds` times, timing each; the first round also
    * carries the JVM's start-up time. */
  def setupRepeated(body: => Unit): Unit =
    for (r <- 0 until setupRounds)
      setupS += timed(body)._2 + (if (r == 0) jvmToMain else 0.0)
  private var current: SparkSession = _

  def spark: SparkSession = current

  /** Stops the current session (if any) and starts a fresh one, so
    * every engine memo starts cold. */
  def restart(): SparkSession = {
    stop()
    current = SparkSession.builder()
      .master(s"local[${Main.Cores}]")
      .appName(s"kgbench-$workload")
      .config("spark.sql.shuffle.partitions", Main.Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
    tracer.attach(current.sparkContext)
    current
  }

  def warmupJob(): Unit =
    spark.range(100000).groupBy(pmod(col("id"), lit(7L))).count().count()

  def stop(): Unit = if (current != null) { current.stop(); current = null }

  /** Closed loop: serve the stream until `seconds` have passed and at
    * least `minOps` operations ran (or the stream ends). */
  def loop[R](stream: Seq[R])(op: (R, Int) => Op): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    val it = stream.iterator
    while (it.hasNext && ((System.nanoTime() - t0) / 1e9 < seconds || ops.size < minOps))
      ops += op(it.next(), ops.size)
    ops.toSeq
  }

  /** Identity set of the engine's memoized values, to tell a memo miss
    * (a new value appears) from a hit. */
  def memoSnapshot(): java.util.Set[Any] = {
    val s = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[Any, java.lang.Boolean]())
    graft.core.AppCache.allCachedValues.foreach(s.add)
    s
  }
  def memoAdded(before: java.util.Set[Any]): Int =
    graft.core.AppCache.allCachedValues.count(v => !before.contains(v))

  /** Memory-resident storage of the engine's memos (the RDDs behind
    * every AppCache value), MB. Unreferenced cached RDDs are left out:
    * when the context cleaner drops them depends on GC timing. */
  def memoMb(): Double = {
    import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge}
    def frames(v: Any): Seq[DataFrame] = v match {
      case ds: Dataset[_] => Seq(ds.toDF())
      case p: Product => p.productIterator.toSeq.flatMap(frames)
      case _ => Seq.empty
    }
    val ids = graft.core.AppCache.allCachedValues.flatMap(frames)
      .flatMap(f => GraftColumnBridge.checkpointRddId(f).orElse(GraftColumnBridge.cachedPlanRddId(f)))
      .toSet
    spark.sparkContext.getRDDStorageInfo.filter(i => ids.contains(i.id)).map(_.memSize).sum / 1e6
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Harness extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** Rows output by every join of a frame's executed plan (adaptive
    * stages included): for a join-based KNN, the pairs it scored. */
  def joinOutputRows(df: org.apache.spark.sql.DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  /** Fixed pure-JVM compute loop on `threads` threads (the shape of
    * graft.Bench's host calibration); its wall time tracks host capacity,
    * not code. */
  def cpuCalib(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var x = 1.0; var j = 0L
        while (j < 100000000L) { x = x * 1.0000001 + 1e-9; j += 1 }
        if (x < 0) println(x)
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
}
