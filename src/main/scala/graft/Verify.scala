package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query names (local iteration;
    // the driver always calls with two args = full dump)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = graft.core.GraftSession.local(graft.core.GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // same entry-boundary memo trim as Bench (r14): the dump visits
        // all 260 entries in one app, so the checkpoint memos need the budget
        graft.core.AppCache.trimToBudget(spark)
      }
      catch { case e: Throwable =>
        // a failed entry must still produce an output row: a one-row
        // marker parquet whose schema can never match an oracle, so the
        // driver records a FAIL instead of silently dropping the entry
        // (round 9: m4 crashed in Verify and vanished from CORRECTNESS)
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        failures += name -> msg
        try {
          import spark.implicits._
          Seq((name, msg)).toDF("__entry", "__error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name marker write failed: $e2")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // failure ledger for the round artifacts: which entries crashed + why
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} entries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
