package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.Loader
import graft.analytics.Queries

class LoaderSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf, withTable}

  test("bucketed tables join without a shuffle") {
    withTable("loader_orders_b", "loader_lineitem_b") {
      Loader.writeBucketed(Tables.orders(spark, sf), "loader_orders_b", Seq("o_orderkey"), 4)
      Loader.writeBucketed(Tables.lineitem(spark, sf)
        .withColumnRenamed("l_orderkey", "o_orderkey"), "loader_lineitem_b", Seq("o_orderkey"), 4)
      val joined = spark.table("loader_lineitem_b")
        .join(spark.table("loader_orders_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() > 0)
    }
  }

  test("withTable drops a table its body wrote, also when the body throws") {
    val e = intercept[IllegalStateException](withTable("loader_thrown") {
      Loader.writeBucketed(Tables.region(spark, sf), "loader_thrown", Seq("r_regionkey"), 2)
      assert(spark.catalog.tableExists("loader_thrown"))
      throw new IllegalStateException("planted failure")
    })
    assert(e.getMessage === "planted failure")
    assert(!spark.catalog.tableExists("loader_thrown"))
  }

  test("full vs batch write semantics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-load").toString + "/t"
    val df = Tables.region(spark, sf)
    Loader.write(df, dir, "full")
    Loader.write(df, dir, "batch")
    assert(spark.read.parquet(dir).count() == df.count() * 2)
    Loader.write(df, dir, "full")
    assert(spark.read.parquet(dir).count() == df.count())
    intercept[IllegalArgumentException](Loader.write(df, dir, "nope"))
  }

  test("range-sorted write produces disjoint per-file key ranges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sorted").toString + "/t"
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    Loader.writeSorted(df, dir, 4, "l_orderkey")
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length == 4)
    val ranges = parts.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("l_orderkey"), max("l_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // files cover disjoint ranges -> footer min/max prunes whole files
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"overlapping file ranges: $hi vs $lo")
    }
    assert(spark.read.parquet(dir).count() == df.count())
  }

  test("z-order key interleaves bits; clustered write skips in BOTH dims") {
    import spark.implicits._
    // hand-computed Morton values
    val z = Seq((1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L), (3L, 3L))
      .toDF("x", "y")
      .select(Loader.zorderKey(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    assert(z.sameElements(Array(1L, 2L, 3L, 14L, 15L)))
    val dir = java.nio.file.Files.createTempDirectory("graft-z").toString + "/t"
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    Loader.writeZOrdered(df, dir, 8, "l_orderkey", "l_partkey")
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    // repartitionByRange SAMPLES its boundaries (seeded by runtime rdd
    // ids), so the non-empty file count can land a file or two under
    // the target depending on what ran before — the contract is "many
    // disjoint z-ranges", not an exact count
    assert(parts.length >= 5 && parts.length <= 8, s"files=${parts.length}")
    // per-file bounding boxes: a narrow slice in EITHER dimension must
    // overlap only a subset of files (1-D sorting only prunes one dim)
    val boxes = parts.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath).agg(
        min("l_orderkey"), max("l_orderkey"),
        min("l_partkey"), max("l_partkey")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val (xLo, xHi) = (boxes.map(_._1).min, boxes.map(_._2).max)
    val (yLo, yHi) = (boxes.map(_._3).min, boxes.map(_._4).max)
    def overlapX(s: Long, e: Long) = boxes.count(b => b._2 >= s && b._1 <= e)
    def overlapY(s: Long, e: Long) = boxes.count(b => b._4 >= s && b._3 <= e)
    val xs = xLo + (xHi - xLo) / 2; val xe = xs + (xHi - xLo) / 8
    val ys = yLo + (yHi - yLo) / 2; val ye = ys + (yHi - yLo) / 8
    assert(overlapX(xs, xe) < parts.length, "x-slice must prune some files")
    assert(overlapY(ys, ye) < parts.length, "y-slice must prune some files")
    assert(spark.read.parquet(dir).count() == df.count())
  }

  test("orc roundtrip preserves data and pushes filters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString + "/t"
    val df = Tables.region(spark, sf)
    Loader.writeOrc(df, dir, "full")
    Loader.writeOrc(df, dir, "batch")
    val back = Loader.readOrc(spark, dir)
    assert(back.count() == df.count() * 2)
    val filtered = back.filter(col("r_regionkey") === 1)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(r_regionkey), EqualTo(r_regionkey,1)]"),
      s"ORC scan must push the filter:\n$scan")
    assert(filtered.count() == 2)
  }

  test("mergeSchema surfaces late-added columns as nulls") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    Seq((2L, "b", 9.5)).toDF("id", "v", "extra")
      .write.mode("append").parquet(dir)
    val merged = Loader.readMerged(spark, dir)
    assert(merged.columns.sorted.sameElements(Array("extra", "id", "v")))
    val byId = merged.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(merged.columns.indexOf("extra")))
    assert(byId(2L).getDouble(merged.columns.indexOf("extra")) == 9.5)
  }

  test("jdbc full vs batch load semantics (embedded Derby)") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft-jdbc").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val df = Tables.region(spark, sf)
    def readBack = spark.read
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .jdbc(url, "region_load", new java.util.Properties)
    Loader.writeJdbc(df, url, "region_load", "full")
    assert(readBack.count() == df.count())
    Loader.writeJdbc(df, url, "region_load", "batch")
    assert(readBack.count() == df.count() * 2) // append accretes
    Loader.writeJdbc(df, url, "region_load", "full")
    assert(readBack.count() == df.count()) // truncate+reload resets
    assert(readBack.orderBy("r_regionkey").collect().map(_.getAs[Number](0).longValue)
      .sameElements(df.orderBy("r_regionkey").collect().map(_.getAs[Number](0).longValue)))
    intercept[IllegalArgumentException](Loader.writeJdbc(df, url, "region_load", "nope"))
  }

  test("compaction merges small files without changing data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val df = Tables.lineitem(spark, sf)
    df.repartition(37).write.parquet(dir) // deliberately fragmented
    def parts = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts >= 30)
    val before = spark.read.parquet(dir).agg(sum("l_quantity"), count(lit(1))).head()
    graft.etl.Loader.compact(spark, dir, targetMb = 128)
    assert(parts <= 4, s"still $parts files after compaction")
    val after = spark.read.parquet(dir).agg(sum("l_quantity"), count(lit(1))).head()
    assert(before == after)
  }

  test("partitioned write enables partition pruning on read") {
    val base = java.nio.file.Files.createTempDirectory("graft-part").toString + "/ev"
    Loader.writePartitioned(
      Tables.events(spark, sf).withColumn("day", to_date(col("ts"))),
      base, Seq("event_type"))
    val pruned = spark.read.parquet(base).filter(col("event_type") === "purchase")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning in plan:\n$plan")
    val expected = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(pruned.count() == expected)
  }

  test("stream-static broadcast join enriches the stream") {
    import graft.streaming.Streaming
    val users = Tables.events(spark, sf).select("user_id").distinct()
      .withColumn("segment",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"))
    val q = Streaming.readEventsStream(spark, sf)
      .join(broadcast(users), "user_id")
      .groupBy("segment").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("enriched").start()
    q.processAllAvailable(); q.stop()
    val total = spark.table("enriched")
      .agg(sum("n")).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("multi-format sink/source round-trip preserves data") {
    import graft.etl.Bronze
    val base = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val src = Tables.customer(spark, sf)
    // parquet
    src.write.mode("overwrite").parquet(s"$base/p")
    assert(spark.read.parquet(s"$base/p").orderBy("c_custkey").collect()
      .sameElements(src.orderBy("c_custkey").collect()))
    // csv (schema supplied on read; header round-trips names)
    src.write.mode("overwrite").option("header", "true").csv(s"$base/c")
    val csvBack = Bronze.readCsv(spark, s"$base/c", src.schema)
    assert(csvBack.count() == src.count())
    assert(csvBack.agg(org.apache.spark.sql.functions.sum("c_acctbal")).head() ==
      src.agg(org.apache.spark.sql.functions.sum("c_acctbal")).head())
    // json
    src.write.mode("overwrite").json(s"$base/j")
    val jsonBack = Bronze.readJson(spark, s"$base/j", src.schema)
    assert(jsonBack.count() == src.count())
  }

  test("asof join: every purchase gets the latest prior click") {
    val out = Queries.asofJoin(spark, sf)
    assert(out.count() > 0)
    // gap is never negative when a click exists
    assert(out.filter(col("gap_s") < 0).count() == 0)
    // spot-check one user against a direct computation
    val row = out.filter(col("last_click_ts").isNotNull).head()
    val uid = row.getLong(1)
    val pts = row.getTimestamp(2)
    val expected = Tables.events(spark, sf)
      .filter(col("event_type") === "click" && col("user_id") === uid &&
        col("ts") <= lit(pts))
      .agg(max("ts")).head().getTimestamp(0)
    assert(row.getTimestamp(3) == expected)
  }
}
