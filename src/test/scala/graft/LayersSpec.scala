package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Layers
import graft.schema.Metadata

class LayersSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def cust = TestSpark.table("customer")
    .select("c_custkey", "c_name", "c_acctbal")

  test("S2: schema-inferred JSONL roundtrip preserves rows") {
    val dir = TestSpark.tmpDir("jsonl_inferred")
    Layers.writeJsonl(cust, dir)
    val back = Layers.readJsonlInferred(spark, dir)
    assert(back.count() == cust.count())
    assert(back.columns.sorted.toSeq == Seq("c_acctbal", "c_custkey", "c_name"))
  }

  test("S3: schema-enforced JSONL read drops extra fields, nulls missing") {
    val dir = TestSpark.tmpDir("jsonl_enforced")
    Layers.writeJsonl(cust, dir)
    val st = Metadata.structFromSpec("c_custkey: long\nmissing_col: string")
    val back = Layers.readJsonl(spark, dir, st)
    assert(back.columns.toSeq == Seq("c_custkey", "missing_col"))
    assert(back.filter(col("missing_col").isNotNull).count() == 0)
    assert(back.agg(sum("c_custkey")).as[Long].collect()(0) ==
      cust.agg(sum("c_custkey")).as[Long].collect()(0))
  }

  test("K2: runId creates versioned run_<id> dir") {
    val dir = TestSpark.tmpDir("jsonl_runs")
    val target = Layers.writeJsonl(cust, dir, Some("20251015"))
    assert(target.endsWith("/run_20251015"))
    assert(new java.io.File(target, "_SUCCESS").exists())
  }

  test("K3: partitioned silver write + dynamic partition overwrite touches only written partitions") {
    val dir = TestSpark.tmpDir("silver_dyn")
    val df = Seq((1, "A"), (2, "B")).toDF("id", "part")
    Layers.writeSilver(df, dir, Seq("part"))
    // overwrite ONLY partition B with a new row; partition A must survive
    Layers.writeSilver(Seq((3, "B")).toDF("id", "part"), dir, Seq("part"))
    val back = Layers.readParquet(spark, dir).as[(Int, String)].collect().toSet
    assert(back == Set((1, "A"), (3, "B")))
  }

  test("K4/S5: plain gold parquet roundtrip") {
    val dir = TestSpark.tmpDir("gold_plain")
    Layers.writeGold(cust, dir)
    assert(Layers.readParquet(spark, dir).count() == cust.count())
  }

  test("S4: partition columns are recovered and pruned from the dir layout") {
    val dir = TestSpark.tmpDir("silver_prune")
    val df = Seq((1, "A"), (2, "B"), (3, "B")).toDF("id", "part")
    Layers.writeSilver(df, dir, Seq("part"))
    val scan = Layers.readParquet(spark, dir).filter(col("part") === "B")
    assert(scan.count() == 2)
    val plan = scan.queryExecution.executedPlan.toString
    assert(!plan.contains("part=A"), "partition A must be pruned from the scan")
  }

  test("a layer with 40 partition dirs reads with its schema in no Spark job") {
    val dir = TestSpark.tmpDir("listing40")
    spark.range(80).select(col("id").as("v"), (col("id") % 40).cast("int").as("part"))
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("v BIGINT, part INT")
    def read(s: org.apache.spark.sql.SparkSession) = {
      val (df, jobs) = TestSpark.jobsOf(Layers.readParquet(s, dir, schema))
      assert(df.count() == 80)
      jobs
    }
    assert(read(spark) == 0, "TestSpark session")
    // a session from the production builder, on the suite's context
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val graftSession =
      try GraftSession.builder("listing").getOrCreate()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    assert(graftSession ne spark)
    assert(read(graftSession) == 0, "GraftSession.builder session")
  }

  test("O3: latestSuccessfulRun picks newest _SUCCESS-gated dir, skips incomplete") {
    val dir = TestSpark.tmpDir("runs")
    Layers.writeJsonl(cust.limit(1), dir, Some("20251013"))
    Layers.writeJsonl(cust.limit(1), dir, Some("20251015"))
    // a half-written newer run: dir exists but no _SUCCESS marker
    val broken = new java.io.File(dir, "run_20251016")
    broken.mkdirs()
    assert(Layers.latestSuccessfulRun(spark, dir).get.endsWith("/run_20251015"))
    assert(Layers.latestSuccessfulRun(spark, TestSpark.tmpDir("empty")).isEmpty)
  }

  test("successfulRuns: oldest-first time-travel list, half-written runs invisible") {
    val dir = TestSpark.tmpDir("runs_tt")
    Layers.writeJsonl(cust.limit(1), dir, Some("20251015"))
    Layers.writeJsonl(cust.limit(2), dir, Some("20251013"))
    new java.io.File(dir, "run_20251014").mkdirs() // no _SUCCESS
    val runs = Layers.successfulRuns(spark, dir)
    assert(runs.length == 2)
    assert(runs.head.endsWith("/run_20251013") &&
      runs.last.endsWith("/run_20251015"),
      "oldest first: index i IS table version i")
    assert(runs.last == Layers.latestSuccessfulRun(spark, dir).get)
    assert(Layers.successfulRuns(spark, TestSpark.tmpDir("empty_tt")).isEmpty)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val o = TestSpark.table("orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val c = TestSpark.table("customer").select("c_custkey", "c_mktsegment")
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_customer")
    Layers.writeBucketedTable(o, "bkt_orders", Seq("o_custkey"), 8)
    Layers.writeBucketedTable(c.withColumnRenamed("c_custkey", "o_custkey"),
      "bkt_customer", Seq("o_custkey"), 8)
    // force the large⋈large path (broadcast would hide the shuffle question)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_orders")
        .join(spark.table("bkt_customer"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join must be shuffle-free, got:\n$plan")
      assert(joined.count() == o.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_customer")
    }
  }

  test("events reader normalizes ts to TimestampType for the fixture's encoding") {
    val ev = Layers.readEvents(spark, s"${TestSpark.sfDir}/events.parquet")
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(ev.filter(col("ts").isNull).count() == 0)
    assert(ev.count() > 0)
    // the double-cast the sessionization/range-join ops rely on must be legal
    assert(ev.select(col("ts").cast("double")).limit(1).collect().nonEmpty)
  }

  test("events reader normalizes a TIMESTAMP_NTZ encoding to TimestampType, value-identical") {
    import org.apache.spark.sql.types._
    // build an NTZ-typed frame (what pyarrow's tz-naive timestamp[us] infers as)
    val dir = TestSpark.tmpDir("events_ntz")
    val micros = Seq(0L, 1_000_000L, 1_723_500_000_123_456L)
    val src = spark.range(micros.size)
      .withColumn("event_id", col("id"))
      .withColumn("ts", expr(
        s"cast(timestamp_micros(element_at(array(${micros.mkString(",")}), cast(id AS int) + 1)) AS timestamp_ntz)"))
      .drop("id")
    assert(src.schema("ts").dataType == TimestampNTZType)
    src.write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).schema("ts").dataType == TimestampNTZType,
      "fixture must round-trip as NTZ for the test to exercise the branch")
    val ev = Layers.readEvents(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    // UTC session ⇒ the reinterpretation preserves the underlying instant
    val got = ev.select(expr("unix_micros(ts)")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == micros.sorted)
  }

  test("writeRangeClustered: files cover disjoint key ranges (skippable layout), content intact") {
    val orders = TestSpark.table("orders")
    val dir = TestSpark.tmpDir("range_clustered")
    Layers.writeRangeClustered(orders, dir, Seq("o_orderkey"), numFiles = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length >= 2, "fixture must produce multiple range files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file ranges must be disjoint: [$hi] overlaps [$lo2]")
      case _ =>
    }
    // layout changes I/O, never the answer
    assert(spark.read.parquet(dir).count() == orders.count())
  }

  test("zValues: hand-computed Morton interleave; empty frame safe") {
    import spark.implicits._
    // values 0..3 with bits=2 bucket to themselves (range 4 over 4 cells)
    val df = Seq((0L, 0L), (1L, 2L), (3L, 3L), (2L, 1L), (0L, 3L))
      .toDF("x", "y")
    val got = Layers.zValues(df, Seq("x", "y"), bits = 2, zCol = "z")
      .as[(Long, Long, Long)].collect().toSet
    // z interleaves x at even positions, y at odd: z(1,2)=0b1001=9
    assert(got == Set(
      (0L, 0L, 0L), // 00|00
      (1L, 2L, 9L), // x=01 y=10 → 1001
      (3L, 3L, 15L), // 1111
      (2L, 1L, 6L), // x=10 y=01 → 0110
      (0L, 3L, 10L))) // x=00 y=11 → 1010
    val empty = Layers.zValues(df.filter(lit(false)), Seq("x", "y"), bits = 2)
    assert(empty.count() == 0)
  }

  test("compact: file count drops to the byte budget, content intact, empty dir safe") {
    val orders = TestSpark.table("orders")
    val frag = TestSpark.tmpDir("compact_frag")
    val out = TestSpark.tmpDir("compact_out")
    orders.repartition(32).write.mode("overwrite").parquet(frag)
    val (before, after, bytes) = Layers.compact(spark, frag, out, targetFileBytes = bytesOf(frag))
    assert(before == 32)
    assert(after < before && after >= 1)
    assert(bytes > 0)
    // layout-only: every row survives, byte-identical aggregate
    val a = spark.read.parquet(out).agg(count(lit(1)), sum("o_orderkey")).collect()(0)
    val b = orders.agg(count(lit(1)), sum("o_orderkey")).collect()(0)
    assert(a == b)
    // a tight budget yields MORE files than one
    val out2 = TestSpark.tmpDir("compact_out2")
    val (_, many, _) = Layers.compact(spark, frag, out2, targetFileBytes = bytes / 8)
    assert(many > 1)
    // missing input dir fails loud (a silent 0-file "compaction" hides
    // a caller-side path bug)
    intercept[IllegalArgumentException] {
      Layers.compact(spark, TestSpark.tmpDir("compact_missing_in"),
        TestSpark.tmpDir("compact_missing_out"))
    }
  }

  test("compact fails loud on a partitioned table root and on a dir with no data files") {
    val part = TestSpark.tmpDir("compact_part_root")
    TestSpark.table("customer")
      .write.mode("overwrite").partitionBy("c_mktsegment").parquet(part)
    // pointed at the ROOT, compact would silently flatten the
    // partition layout into one file — must refuse instead
    val e = intercept[IllegalArgumentException] {
      Layers.compact(spark, part, TestSpark.tmpDir("compact_part_out"))
    }
    assert(e.getMessage.contains("single-directory"))
    // …but each partition DIR is exactly the supported primitive
    val sub = new java.io.File(part).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("c_mktsegment="))
      .head.getPath
    val (b1, a1, _) = Layers.compact(spark, sub, TestSpark.tmpDir("compact_part_sub"))
    assert(b1 >= 1 && a1 >= 1)
    // an existing dir with zero *.parquet files is a caller bug too
    val emptyDir = TestSpark.tmpDir("compact_empty_in")
    new java.io.File(emptyDir).mkdirs()
    intercept[IllegalArgumentException] {
      Layers.compact(spark, emptyDir, TestSpark.tmpDir("compact_empty_out"))
    }
  }

  private def bytesOf(dir: String): Long =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum

  test("readDrifted: widens int->long and float->double, missing columns null, conflicts fail loud") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val v1 = TestSpark.tmpDir("drift_a")
    val v2 = TestSpark.tmpDir("drift_b")
    Seq((1, 0.5f), (2, 1.5f)).toDF("id", "q").write.mode("overwrite").parquet(v1)
    Seq((3L, 2.5d, "x"), (4L, 3.5d, "y")).toDF("id", "q", "tag")
      .write.mode("overwrite").parquet(v2)
    val got = Layers.readDrifted(spark, Seq(v1, v2))
    assert(got.schema("id").dataType == LongType)
    assert(got.schema("q").dataType == DoubleType)
    assert(got.schema("tag").dataType == StringType)
    // first-seen column order: v1's columns lead
    assert(got.columns.toSeq == Seq("id", "q", "tag"))
    val rows = got.as[(Long, Double, Option[String])].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.take(2).forall(_._3.isEmpty)) // missing column reads as null
    assert(rows(0)._2 == 0.5d && rows(3)._2 == 3.5d)
    // drift plan is shuffle-free: casts fuse into the scans, union is plan-level
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"drifted union must not shuffle:\n$plan")
    // a semantic type break (string vs long) must fail, not auto-cast
    val v3 = TestSpark.tmpDir("drift_c")
    Seq(("oops", 1L)).toDF("id", "other").write.mode("overwrite").parquet(v3)
    val err = intercept[IllegalArgumentException] {
      Layers.readDrifted(spark, Seq(v1, v3))
    }
    assert(err.getMessage.contains("non-widenable"))
  }

  test("zValues null contract: all-null column contributes cell 0; per-row nulls map to cell 0") {
    import spark.implicits._
    // y entirely null: min/max slots 2,3 are null — must not NPE, and x
    // must still cluster alone (y contributes constant 0 bits)
    val allNullY = Seq((0L, Option.empty[Long]), (3L, Option.empty[Long]))
      .toDF("x", "y")
    val gotAllNull = Layers.zValues(allNullY, Seq("x", "y"), bits = 2, zCol = "z")
      .select("x", "z").as[(Long, Long)].collect().toSet
    // x=0 → cell 0 → z 0; x=3 → cell 3 (bits 11 at even positions) → z 0b0101=5
    assert(gotAllNull == Set((0L, 0L), (3L, 5L)))
    // per-row null y: the row gets a FINITE key (null y → cell 0), so
    // range-partitioning by z spreads rows instead of pooling null keys
    val rowNull = Seq((0L, Some(0L)), (1L, Some(2L)), (3L, Option.empty[Long]))
      .toDF("x", "y")
    val gotRowNull = Layers.zValues(rowNull, Seq("x", "y"), bits = 2, zCol = "z")
      .select("x", "z").as[(Long, Long)].collect().toMap
    assert(!gotRowNull.values.exists(_ == null), "every row must have a z-key")
    // y bounds come from the non-null rows {0,2}: range 3 over 4 cells →
    // y=0→0, y=2→2; null y → 0. x range {0..3} buckets to itself.
    assert(gotRowNull(0L) == 0L)  // x=00,y=00 → 0000
    assert(gotRowNull(1L) == 9L)  // x=01,y=10 → 1001
    assert(gotRowNull(3L) == 5L)  // x=11,y=00 → 0101
  }

  test("writeZOrdered: multi-column file skipping, content intact") {
    val li = TestSpark.table("lineitem")
    val dir = TestSpark.tmpDir("zorder")
    Layers.writeZOrdered(li, dir, Seq("l_orderkey", "l_partkey"), numFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == li.count())
    assert(!back.columns.contains("__z"), "helper key must not be persisted")
    val nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(nFiles >= 4, "fixture must produce multiple z files")
    // a tight box on BOTH dimensions must touch a strict subset of
    // files — the multi-column skipping a single-key range layout
    // cannot give on its second key
    val okMax = li.agg(max("l_orderkey")).collect()(0).getLong(0)
    val pkMax = li.agg(max("l_partkey")).collect()(0).getLong(0)
    val touched = back
      .filter(col("l_orderkey") <= okMax / 8 && col("l_partkey") <= pkMax / 8)
      .select(input_file_name()).distinct().count()
    assert(touched < nFiles,
      s"box filter touched all $nFiles files — no z-locality")
    // and the filtered CONTENT matches the source exactly
    val a = back.filter(col("l_orderkey") <= 500 && col("l_partkey") <= 300)
      .agg(count(lit(1)), sum("l_suppkey")).collect()(0)
    val b = li.filter(col("l_orderkey") <= 500 && col("l_partkey") <= 300)
      .agg(count(lit(1)), sum("l_suppkey")).collect()(0)
    assert(a == b)
  }

  test("vacuumPlan: keepLast fence, orphan reporting, empty base") {
    import TestSpark.spark
    import spark.implicits._
    val base = TestSpark.tmpDir("vacuum")
    val df = Seq(1L, 2L).toDF("k")
    Layers.writeJsonl(df, base, Some("a"))
    Layers.writeJsonl(df, base, Some("b"))
    Layers.writeJsonl(df, base, Some("c"))
    new java.io.File(s"$base/run_zz_inflight").mkdirs()
    val plan = Layers.vacuumPlan(spark, base, keepLast = 1)
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2))).toSet
    assert(plan == Set(
      ("run_a", 0L, "expire"), ("run_b", 1L, "expire"),
      ("run_c", 2L, "keep"), ("run_zz_inflight", -1L, "orphan")))
    // keepLast >= run count: nothing expires, orphan still reported
    val all = Layers.vacuumPlan(spark, base, keepLast = 5)
      .collect().map(_.getString(2)).toSet
    assert(all == Set("keep", "orphan"))
    // missing base: empty plan, no error
    assert(Layers.vacuumPlan(spark, s"$base/nope", 1).count() == 0L)
    intercept[IllegalArgumentException] {
      Layers.vacuumPlan(spark, base, keepLast = 0)
    }
  }

  test("an in-flight publishAtomic staging dir is neither a version nor an orphan") {
    val base = TestSpark.tmpDir("vacuum_tmp")
    val df = Seq(1L, 2L).toDF("k")
    Layers.writeJsonl(df, base, Some("a"))
    // Commits.publishAtomic stages `_SUCCESS` inside its hidden tmp
    // dir before the rename — it sorts first but is not a run yet
    val staging = new java.io.File(s"$base/.tmp-x")
    staging.mkdirs()
    new java.io.File(staging, "_SUCCESS").createNewFile()
    val plan = Layers.vacuumPlan(spark, base, keepLast = 1)
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2))).toSet
    assert(plan == Set(("run_a", 0L, "keep")))
    assert(Layers.successfulRuns(spark, base).map(_.split('/').last) == Seq("run_a"))
    assert(Layers.latestSuccessfulRun(spark, base).get.endsWith("/run_a"))
  }
}
