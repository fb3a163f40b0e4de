package graft.core

import org.apache.spark.sql.SparkSession

/** The one way the engine starts Spark. Every main (Bench, Verify, the
  * tools, Quickstart) and the test harness build their session here, so
  * the tour, the tests and the benchmarks all run the configuration the
  * benchmarks measure.
  */
object GraftSession {

  /** Host parallelism for a main: `SPARK_GRAFT_CPUS` when set, else the
    * caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** A `local[cpus]` session with the engine's configuration:
    *   - shuffle partitions = `cpus`;
    *   - UTC session time zone (date math and the oracle agree);
    *   - `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), which
    *     Spark 4 rejects; `Tables.events` converts long → timestamp;
    *   - Kryo: the app-lifetime memos store SERIALIZED (see
    *     GraphBuilder.fromTpch); UnsafeRow is KryoSerializable, and Kryo
    *     reads a block as straight byte copies where JavaSerializer pays
    *     an ObjectInputStream state machine per row (measured: the sf10
    *     graph memo scan sat in readObject0 on all threads);
    *   - `GraftExtensions` (SQL functions, AsOfJoinStrategy,
    *     IntegerizeSampleFilter, the SQL parser).
    * AQE is on by Spark 4's default. `warehouseDir` relocates
    * `spark.sql.warehouse.dir` (the tests use a temp dir). Heap size is
    * the JVM's `-Xmx`: a session conf cannot resize an already-started
    * local JVM. */
  def local(cpus: Int, warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
    val s = warehouseDir.fold(b)(b.config("spark.sql.warehouse.dir", _))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // getOrCreate silently DROPS withExtensions when some earlier code
    // already created the JVM's default session. Fail loudly here rather
    // than run (or test) plans the shipping engine doesn't produce
    // (round-9 postmortem: a suite that ran first with a bare getOrCreate
    // disabled AsOfJoinStrategy JVM-wide).
    require(
      s.sessionState.planner.extraPlanningStrategies
        .exists(_.getClass.getName.contains("AsOfJoinStrategy")) ||
      s.sessionState.planner.strategies
        .exists(_.getClass.getName.contains("AsOfJoinStrategy")),
      "GraftExtensions not installed: AsOfJoinStrategy missing from the " +
        "planner — a default session was created before GraftSession.local " +
        "(getOrCreate-drops-extensions trap)")
    require(
      s.sessionState.optimizer.extendedOperatorOptimizationRules
        .exists(_.getClass.getName.contains("IntegerizeSampleFilter")),
      "GraftExtensions not installed: IntegerizeSampleFilter missing from " +
        "the optimizer's extended rules")
    s
  }
}
