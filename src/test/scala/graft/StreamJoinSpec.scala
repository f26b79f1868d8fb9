package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.Streaming

class StreamJoinSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf, withTable}

  test("watermarked stream-stream join matches the batch twin") {
    val q = Streaming.streamStreamJoin(Streaming.readEventsStream(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    q.processAllAvailable(); q.stop()
    val stream = spark.table("ssj")
    val batch = Streaming.streamStreamJoinBatch(spark, sf)
    assert(stream.count() == batch.count())
    val sAgg = stream.agg(sum("p_id"), sum("c_id")).head()
    val bAgg = batch.agg(sum("p_id"), sum("c_id")).head()
    assert(sAgg == bAgg)
  }

  test("foreachBatch upsert sink merges micro-batches by key") {
    val base = java.nio.file.Files.createTempDirectory("graft-fb").toString
    val srcDir = s"$base/src"
    // two source files → two micro-batches (maxFilesPerTrigger=1)
    val ev = Tables.events(spark, sf)
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$srcDir/f0")
    ev.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$srcDir/f1")
    val schema = ev.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(srcDir)
    val target = s"$base/target"
    val q = Streaming.foreachBatchUpsert(stream, target, s"$base/ckpt")
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(target)
    assert(got.select("event_id").distinct().count() == ev.count())
    assert(got.count() == ev.count())
  }

  test("streaming incremental dedup: verdicts + index growth across micro-batches") {
    withTable("sdi_band_index", "sdi_band_index_ref") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import graft.dedup.Dedup
      val base = java.nio.file.Files.createTempDirectory("graft-sdi").toString
      val tbl = "sdi_band_index"
      // initial index: the corpus docs with doc_id % 5 != 4
      val all = Tables.documents(spark, sf).select("doc_id", "text")
      Dedup.writeBandIndex(all.filter(col("doc_id") % 5 =!= 4), tbl)
      val idx0 = spark.table(tbl).count()
      // batch 1: genuinely new docs (the %5==4 split, re-id'd to be safe)
      val b1 = all.filter(col("doc_id") % 5 === 4)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      // batch 2: exact copies of batch 1 under fresh ids — every one must
      // be flagged against a batch-1 doc ACCEPTED into the index, proving
      // cross-micro-batch incrementality
      val b2 = b1.map { case (id, text) => (id + 100000L, text) }
      val src = MemoryStream[(Long, String)]
      val q = Streaming.dedupStreamIndexed(
        src.toDF().toDF("doc_id", "text"), tbl, s"$base/verdicts", s"$base/ckpt")
      try {
        src.addData(b1); q.processAllAvailable()
        src.addData(b2); q.processAllAvailable()
      } finally q.stop()
      val verdicts = spark.read.parquet(s"$base/verdicts")
      assert(verdicts.count() == (b1.size + b2.size))
      val v2 = verdicts.filter(col("batch_id") === 1)
      // every batch-2 copy is an exact dup of its batch-1 twin: sigs are
      // equal, so est = 1.0 and the best match is the twin's id (min id
      // among equally-scored matches only if text unique; at minimum the
      // match must exist and the twin must qualify)
      assert(v2.count() == b2.size)
      assert(v2.filter(!col("is_duplicate")).count() == 0,
        "an exact copy of a batch-1 doc escaped (twin accepted OR twin's own dup is indexed)")
      // copies whose twin was ACCEPTED into the index must score est=1.0
      // against it; copies of REJECTED twins still flag (above) but match
      // the index doc that shadowed the twin, at the twin's own est
      val acceptedIds = verdicts
        .filter(col("batch_id") === 0 && !col("is_duplicate"))
        .select((col("doc_id") + 100000L).as("doc_id"))
      assert(v2.join(acceptedIds, "doc_id")
        .filter(col("est_jaccard") < 1.0).count() == 0)
      // the index grew by bands × accepted(batch1) + bands × accepted(batch2 = 0...
      // dup docs are rejected)
      val accepted1 = verdicts.filter(col("batch_id") === 0 && !col("is_duplicate")).count()
      val bands = Dedup.Bands
      // the appends ran in foreachBatch's cloned session — drop this
      // session's cached file listing before counting
      spark.catalog.refreshTable(tbl)
      assert(spark.table(tbl).count() == idx0 + bands * accepted1,
        "index must contain exactly the initial docs plus batch-1 accepts")
      // batch-1 verdicts match a direct one-shot call against the initial index
      Dedup.writeBandIndex(all.filter(col("doc_id") % 5 =!= 4), s"${tbl}_ref")
      val direct = Dedup.dedupIncrementalIndexed(spark,
        all.filter(col("doc_id") % 5 === 4)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")),
        s"${tbl}_ref").collect().map(_.toSeq).toSeq
      val streamed = verdicts.filter(col("batch_id") === 0)
        .select("doc_id", "is_duplicate", "best_match", "est_jaccard")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(streamed == direct)
    }
  }

  test("streaming slice monitor: counts identical to the batch slice frame") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
      .toSeq
    val (b1, b2) = evs.partition(_._1 % 2 == 0)
    val src = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val q = Streaming.sliceMonitorStream(
        src.toDF().toDF("event_id", "ts", "user_id", "event_type",
          "value", "props"))
      .writeStream.format("memory").queryName("slice_mon")
      .outputMode("complete").start()
    try {
      src.addData(b1); q.processAllAvailable()
      src.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("slice_mon")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // batch twin: the slice frame inside dq.Slices.sliceMetrics
    val batch = dq.Slices.sliceMetrics(spark, sf)
      .select("dim", "slice", "n", "n_err").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(streamed == batch,
      "mergeable counts must be EXACTLY batch-identical under any batching")
  }

  test("streaming EWMA state: bit-identical to the batch fold across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Streaming.Event].collect().toSeq
    // split on event id parity — day counts straddle the batch
    // boundary, which a naive fold-on-arrival would get wrong
    val (b1, b2) = evs.partition(_.event_id % 2 == 0)
    val src = MemoryStream[Streaming.Event]
    val out = Streaming.ewmaStateStream(src.toDS())
    val q = out.writeStream.format("memory")
      .queryName("ewma_state").outputMode("update").start()
    try {
      src.addData(b1); q.processAllAvailable()
      src.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // last emitted row per type = full-corpus state
    val rows = spark.table("ewma_state").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
    val last = rows.zipWithIndex.groupBy(_._1._1).view
      .mapValues(v => v.maxBy(_._2)._1._2).toMap
    // batch twin: the engine's own ewma_smooth (UNROUNDED replay of
    // the same fold over the same day counts)
    val a = graft.analytics.Series.EwmaAlpha
    val daily = evs.groupBy(e =>
      (e.event_type, e.ts.toLocalDateTime.toLocalDate)).view
      .mapValues(_.size.toLong).toMap
    daily.keys.map(_._1).toSeq.distinct.foreach { et =>
      val days = daily.keys.collect { case (e, d) if e == et => d }
      val (d0, d1) = (days.min, days.max)
      val xs = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1))
        .map(d => daily.getOrElse((et, d), 0L).toDouble).toIndexedSeq
      val expect = xs.tail.foldLeft(xs.head)((acc, x) => acc * (1 - a) + x * a)
      val (nDays, ewma) = last(et)
      assert(nDays == xs.length.toLong, s"$et days")
      assert(ewma == expect, s"$et: streaming state must replay the batch fold EXACTLY")
    }
  }
}
