package graft

import org.apache.spark.sql.SparkSession

class ExtensionsSpec extends SparkSpec {

  test("custom expressions register via SparkSessionExtensions and work in SQL") {
    // the extension class itself installs cleanly
    new graft.plans.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions)
    // derive the child session from the SHARED SparkSpec session — a bare
    // builder().getOrCreate() here would, if this suite runs first, create
    // the JVM's default session WITHOUT GraftExtensions and silently
    // un-extend every later suite (the getOrCreate-drops-extensions trap
    // that cost round 9 its AsOfJoinStrategy in the whole test JVM)
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    Seq(graft.plans.GraftExtensions.arrayDot,
      graft.plans.GraftExtensions.charShingles).foreach {
      case (ident, exprInfo, builder) =>
        reg.registerFunction(ident, exprInfo, builder)
    }
    val dot = s2.sql(
      "SELECT graft_dot(array(1.0, 2.0, 3.0), array(4.0, 5.0, 6.0)) AS d")
      .head().getDouble(0)
    assert(dot === 32.0)
    val sh = s2.sql("SELECT graft_shingles('abcde', 3) AS s")
      .head().getSeq[String](0)
    assert(sh === Seq("abc", "bcd", "cde"))
  }

  test("GraftSession sessions carry Kryo, UTC, nanosAsLong and both Graft planner extensions") {
    // SparkSpec.session is built by GraftSession.local, the factory every
    // main uses, so the suites test the configuration the engine ships
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.serializer") ===
      "org.apache.spark.serializer.KryoSerializer")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "8")
    assert(spark.sessionState.planner.extraPlanningStrategies
      .exists(_.getClass.getName.contains("AsOfJoinStrategy")) ||
      spark.sessionState.planner.strategies
        .exists(_.getClass.getName.contains("AsOfJoinStrategy")))
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .exists(_.getClass.getName.contains("IntegerizeSampleFilter")))
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic pseudo-random distinct string sets, sorted — the
    // exact contract bandSignatures guarantees for sh
    val rows = (1 to 200).map { i =>
      val a = (0 until 50).map(k => f"s${(i * 31 + k * 7) % 97}%02d").distinct.sorted
      val b = (0 until 50).map(k => f"s${(i * 17 + k * 13) % 97}%02d").distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
      .withColumn("fast", graft.plans.expressions.sorted_intersect_count($"a", $"b"))
      .withColumn("ref", size(array_intersect($"a", $"b")))
    assert(df.filter($"fast" =!= $"ref").count() === 0)
    // edge shapes: empty, identical, disjoint
    val edge = Seq(
      (Seq.empty[String], Seq("x")),
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a"), Seq("b"))).toDF("a", "b")
      .withColumn("fast", graft.plans.expressions.sorted_intersect_count($"a", $"b"))
      .withColumn("ref", size(array_intersect($"a", $"b")))
    assert(edge.filter($"fast" =!= $"ref").count() === 0)
  }

  test("parser extension: ASOF JOIN parses to AsOfJoinPlan, normal SQL untouched") {
    import org.apache.spark.sql.functions._
    // the statement parses straight to the native logical node
    val parsed = spark.sessionState.sqlParser.parsePlan(
      "ASOF JOIN a AND b ON k = rk AT rt <= lt TIE t1, t2")
    val node = parsed.asInstanceOf[graft.plans.AsOfJoinPlan]
    assert(node.leftKey === "k" && node.rightKey === "rk" &&
      node.leftTime === "lt" && node.rightTime === "rt" &&
      node.rightTieBreak === Seq("t1", "t2"))
    // no TIE clause → empty tie-break
    assert(spark.sessionState.sqlParser.parsePlan(
      "ASOF JOIN a AND b ON k = rk AT rt <= lt")
      .asInstanceOf[graft.plans.AsOfJoinPlan].rightTieBreak.isEmpty)
    // everything else delegates verbatim to Spark's parser
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) === 2)
    // end-to-end: the SQL spelling produces exactly the DataFrame-API
    // entry's rows (same plan, same exec)
    val viaSql = SparkEntry.queries("j11c_asof_sql")(spark, sfDir)
    val viaApi = SparkEntry.queries("j11b_asof_native")(spark, sfDir)
    assert(viaSql.exceptAll(viaApi).count() === 0 &&
      viaApi.exceptAll(viaSql).count() === 0,
      "SQL-spelled as-of join diverged from the DataFrame-API form")
    // and it runs through AsOfJoinExec, not a fallback
    assert(viaSql.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "SQL as-of join did not plan through the native exec")
  }

  test("morton_interleave: codegen matches a bit-by-bit reference, deinterleaves back") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.plans.expressions.morton_interleave
    // reference: interleave one bit at a time
    def ref(a: Long, b: Long): Long = {
      var z = 0L
      var i = 0
      while (i < 32) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    val rows = (0 until 2000).map { i =>
      ((i.toLong * 2654435761L) % 100000L, (i.toLong * 40503L) % 65536L)
    } ++ Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (0xFFFFFFFFL, 0xFFFFFFFFL))
    val got = rows.toDF("a", "b")
      .withColumn("z", morton_interleave($"a", $"b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (a, b, z) =>
      assert(z === ref(a, b), s"interleave($a,$b) diverged from reference")
    }
    // monotone-in-cell property the layout relies on: the top 2k bits of
    // z are exactly the interleaved top k bits of each key, so a z-range
    // partition is an axis-aligned box in (a, b)
    got.foreach { case (a, b, z) =>
      assert((z >>> 62) === (((b >> 31) & 1L) << 1 | ((a >> 31) & 1L)))
    }
  }

  test("bottom_k_by_hash: aggregate sample ≡ window sample, partial combine planned") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.ColFns
    import graft.plans.expressions.bottom_k_by_hash
    // many partitions + interleaved groups so update/merge/serialize all
    // run (partials cross the exchange serialized)
    val df = spark.range(0, 5000).toDF("key")
      .withColumn("g", pmod(col("key"), lit(7)))
      .repartition(8)
    val agg = df.groupBy("g")
      .agg(bottom_k_by_hash(col("key"), 5, 7L).as("ids"))
      .select(col("g"), posexplode(col("ids")).as(Seq("rank", "key")))
    // reference: the window formulation over the SAME hash
    val w = Window.partitionBy("g").orderBy(ColFns.pseudoUniform(col("key"), 7L), col("key"))
    val ref = df.withColumn("rank", row_number().over(w) - 1)
      .filter(col("rank") < 5).select("g", "rank", "key")
    val a = agg.orderBy("g", "rank").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b = ref.orderBy("g", "rank").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.toSeq === b.toSeq, "aggregate draw diverged from the window draw")
    // the scale property: TypedImperative plans through ObjectHashAggregate
    // with a PARTIAL phase before the exchange — k keys per group per
    // partition shuffle, never the corpus
    val plan = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("ObjectHashAggregate"), s"not an object-hash aggregate:\n$plan")
    assert("partial_bottom_k_by_hash".r.findAllIn(plan).nonEmpty,
      s"no map-side partial phase:\n$plan")
    // empty-group safety: aggregating an empty frame yields no rows
    val empty = df.filter(col("key") < 0).groupBy("g")
      .agg(bottom_k_by_hash(col("key"), 5, 7L).as("ids"))
    assert(empty.count() === 0)
  }

  test("kmv_sketch: exact below k, binary union ≡ one-shot, bounded error beyond k") {
    import org.apache.spark.sql.functions._
    import graft.plans.expressions.{kmv_sketch, kmv_card}
    // heavy duplication across 8 partitions so update/merge/serialize
    // all run (partials cross the exchange serialized)
    val df = spark.range(0, 20000).toDF("i")
      .withColumn("g", pmod(col("i"), lit(4)))
      .withColumn("key", pmod(col("i"), lit(3000)))
      .repartition(8)
    val exact = df.groupBy("g").agg(countDistinct("key").as("truth"))
    // raw-key path: below k the readout is EXACT (bijective mix)
    val viaSketch = df.groupBy("g").agg(kmv_sketch(col("key"), 4096).as("sk"))
      .select(col("g"), kmv_card(col("sk")).as("est"))
    assert(viaSketch.join(exact, "g").filter(col("est") =!= col("truth")).count() === 0,
      "below-k sketch diverged from COUNT(DISTINCT)")
    // incremental path: per-batch sketches persisted then UNIONED as
    // binary input give the same exact answer (the e16 refresh shape)
    val batches = Seq(0L, 1L).map(b =>
      df.filter(pmod(col("i"), lit(2)) === b)
        .groupBy("g").agg(kmv_sketch(col("key"), 4096).as("sk")))
    val merged = batches.reduce(_ unionByName _)
      .groupBy("g").agg(kmv_sketch(col("sk"), 4096).as("sk"))
      .select(col("g"), kmv_card(col("sk")).as("est"))
    assert(merged.join(exact, "g").filter(col("est") =!= col("truth")).count() === 0,
      "sketch-union path diverged from COUNT(DISTINCT)")
    // beyond k: 20000 distinct with k=256 must land within ~3/√k
    val est = spark.range(0, 20000).toDF("key")
      .agg(kmv_card(kmv_sketch(col("key"), 256)).as("est")).head().getLong(0)
    assert(math.abs(est - 20000L) < 20000L * 0.2,
      s"beyond-k estimate out of tolerance: $est vs 20000")
    // the scale property: partial sketches combine map-side, so the
    // exchange carries ≤k hashes per group per partition — never rows
    val plan = viaSketch.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ObjectHashAggregate"), s"not object-hash planned:\n$plan")
    assert("partial_kmv_sketch".r.findAllIn(plan).nonEmpty,
      s"no map-side partial phase:\n$plan")
    // the e16 precondition gate's length law: [k][n][n longs] means a
    // sketch is exact iff length < 8 + 8k (n < k), and pins AT the
    // boundary when full — both regimes asserted on real binaries
    val lenBelow = df.agg(kmv_sketch(col("key"), 4096).as("sk"))
      .select(length(col("sk"))).head().getInt(0)
    assert(lenBelow === 8 + 8 * 3000, s"below-k length law broken: $lenBelow")
    val lenFull = spark.range(0, 20000).toDF("key")
      .agg(kmv_sketch(col("key"), 256).as("sk"))
      .select(length(col("sk"))).head().getInt(0)
    assert(lenFull === 8 + 8 * 256, s"full-sketch length law broken: $lenFull")
  }

  test("IntegerizeSampleFilter: sampling compares go integer, guarded, draw unchanged") {
    import org.apache.spark.sql.functions._
    import graft.functions.ColFns
    // order-independent harness: session-level injection only happens
    // for the FIRST session in a JVM (Verify/Bench install it there via
    // withExtensions); the spec mounts the same rule explicitly
    val ns = spark.newSession()
    ns.experimental.extraOptimizations = Seq(graft.plans.IntegerizeSampleFilter)
    val df = ns.range(0, 100000).toDF("k")
    def mix(key: Long, salt: Long): Long = {
      val r = ((key % 999983L) + 999983L) % 999983L
      ((r * 2654435761L + salt * 40503L) % 1000003L + 1000003L) % 1000003L
    }
    // LessThan leg (r1's shape): the divide is gone from the plan...
    val sampled = df.filter(ColFns.pseudoUniform(col("k"), 42L) < 0.05)
    val opt = sampled.queryExecution.optimizedPlan.toString
    assert(!opt.contains("/ 1000003.0"), s"rule did not fire:\n$opt")
    // ...and the draw is EXACTLY the float form's draw
    val expect = (0L until 100000L)
      .filter(k => mix(k, 42L).toDouble / 1000003.0 < 0.05).toSet
    assert(sampled.collect().map(_.getLong(0)).toSet === expect)
    // GreaterThan leg (r3's keep-filter shape)
    val kept = df.filter(ColFns.pseudoUniform(col("k"), 13L) > 0.15)
    assert(!kept.queryExecution.optimizedPlan.toString.contains("/ 1000003.0"))
    assert(kept.count() ===
      (0L until 100000L).count(k => mix(k, 13L).toDouble / 1000003.0 > 0.15).toLong)
    // the guard: a threshold whose p·M sits on an integer keeps the
    // original float compare (rounding could flip the boundary key)
    val risky = df.filter(ColFns.pseudoUniform(col("k"), 42L) < 50000.0 / 1000003.0)
    assert(risky.queryExecution.optimizedPlan.toString.contains("1000003.0"),
      "guard failed: near-integer p*M must not be rewritten")
  }

  test("foreachBatch incremental ingest appends dvid partitions") {
    val store = "/tmp/graft_stream_store"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val staged = "/tmp/graft_stream_ingest_src"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staged))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staged))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/region.parquet"),
      java.nio.file.Paths.get(s"$staged/region.parquet"))
    graft.streaming.EventStream.incrementalIngest(spark, staged, store, startDvid = 7)
    val out = spark.read.parquet(store)
    assert(out.count() === 5)
    assert(out.select("dvid").distinct().head().getInt(0) === 7)
  }
}
