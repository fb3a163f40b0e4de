package kgbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import graft.functions.ColFns
import graft.recommend.Recommend

/** `serve-interactive` and `serve-batch`: one client, closed loop, over
  * a request stream generated by run.py from the seed.
  *
  * Request lines (tab-separated): `W|R  customer|sliceStart  month
  * strategy|-  check(0|1)  expectMiss(0|1)`; W lines are set-up requests
  * on customers outside the measured draw. */
final class Serve(h: Harness, batch: Boolean) {
  private val dir = h.dataDir
  private val strategies = Main.Strategies.map(_._1)
  private val entry = Main.Strategies.toMap
  val SliceSize = 1000

  def run(reqs: Seq[Seq[String]]): Map[String, Any] = {
    val (warm, measured) = reqs.partition(_.head == "W")
    // set-up: session, warm-up job and the shared purchase-pair memo,
    // several times (setup_s takes their median); then, once, requests
    // on customers outside the draw, so the serving path is compiled
    h.setupRepeated {
      h.restart(); h.warmupJob()
      graft.graph.Links.purchasePairsNumeric(h.spark, dir)
    }
    h.setupOnceS = h.timed(warm.zipWithIndex.foreach { case (q, i) => request(q, -1 - i) })._2
    val ops = h.loop(measured)((q, i) => request(q, i))
    Map("ops" -> ops.map(Main.opJson), "memo_mb" -> h.memoMb())
  }

  /** The month's discount band of Recommend.seasonalDiscount, as the
    * oracle SQL writes it. */
  private def band(m: Int): String = {
    val u = ColFns.pseudoUniformSql(s"product * 12 + $m", 11L)
    m match {
      case 12 => s"round(0.30 + $u * 0.20, 2)"
      case 6 | 7 | 11 => s"round(0.15 + $u * 0.15, 2)"
      case 1 | 2 | 8 => s"round(0.05 + $u * 0.10, 2)"
      case _ => s"round($u * 0.05, 2)"
    }
  }

  /** The strategy's oracle SQL with the catalog slice predicate and the
    * December discount band replaced by the request's. */
  private def oracle(strategy: String, predicate: String, month: Int): String = {
    val base = graft.SparkEntry.oracleSql(entry(strategy))
    val slice = "WHERE c_custkey % 50 = 1"
    val dec = band(12)
    def once(s: String) = base.split(java.util.regex.Pattern.quote(s), -1).length == 2
    if (!once(slice) || !once(dec))
      throw new IllegalStateException(s"oracle text of ${entry(strategy)} changed shape")
    base.replace(slice, s"WHERE $predicate").replace(dec, band(month))
  }

  private def request(q: Seq[String], i: Int): Op = {
    val Seq(_, key, monthS, strategy, check, expectMissS) = q
    val month = monthS.toInt; val expectMiss = expectMissS == "1"
    val k = key.toLong
    val (filter, predicate, customers): (Column, String, Set[Long]) =
      if (batch) (col("c_custkey").between(k, k + SliceSize - 1),
        s"c_custkey BETWEEN $k AND ${k + SliceSize - 1}", (k until k + SliceSize).toSet)
      else (col("c_custkey") === k, s"c_custkey = $k", Set(k))
    val t = h.tracer
    val spark = h.spark
    val problems = ArrayBuffer.empty[String]
    val before = h.memoSnapshot()
    val t0 = System.nanoTime()
    val res = try {
      if (t.enabled && expectMiss)
        t.span("rec.candidates")(Recommend.candidates(spark, dir, filter, Main.CandidateCap))
      if (!batch) {
        Some(Map(strategy -> t.span("rec.topk")(
          Recommend.topK(spark, dir, strategy, filter, month, 3, Main.CandidateCap).collect().toSeq)) ->
          Seq.empty[Row])
      } else {
        val out = strategies.map { s =>
          s -> t.span("rec.topk")(
            Recommend.topK(spark, dir, s, filter, month, 3, Main.CandidateCap).collect().toSeq)
        }.toMap
        val enriched = t.span("rec.enrich")(Main.enrich(spark, dir, out("diverse"), month))
        Some(out -> enriched)
      }
    } catch {
      case e: Throwable =>
        problems += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val added = h.memoAdded(before)
    val spans = t.collect()
    // checks, outside the timed region
    val checks = try res.toSeq.flatMap { case (out, enriched) =>
      out.foreach { case (s, rows) =>
        problems ++= Main.checkTopK(rows, customers, 3).map(p => s"$s: $p")
        val served = rows.map(_.getAs[Long]("customer")).distinct.size
        if (served != customers.size) problems += s"$s: served $served of ${customers.size} customers"
      }
      if (batch) problems ++= Main.checkEnrich(enriched, out("diverse"))
      if (check == "1") {
        val s = if (batch) strategy else out.keys.head
        try Seq(Map("op" -> i, "strategy" -> s, "sql" -> oracle(s, predicate, month),
          "rows" -> Main.rowsJson(out(s))))
        catch { case e: IllegalStateException => problems += e.getMessage; Seq.empty }
      } else Seq.empty
    } catch {
      case e: Throwable =>
        problems += s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        Seq.empty
    }
    val lookups = if (batch) strategies.size else 1
    Op(i, wall, problems.isEmpty, problems.toSeq, spans,
      Map("checks" -> checks, "memo_misses" -> math.min(added, lookups),
        "memo_hits" -> (lookups - math.min(added, lookups))))
  }
}
