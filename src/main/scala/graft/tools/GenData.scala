package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator: reproduces the driver
  * corpus's schemas and distributions (TESTDATA.md; profiled off
  * /root/testdata/sf0.1) at ARBITRARY scale factor, so scale behavior
  * can be measured beyond the driver's sf0.1 ceiling — every
  * correctness/perf claim through round 3 was sf≤0.1, where per-query
  * fixed cost (~0.5 s) dominates and a quadratic candidate blowup
  * would be invisible.
  *
  * Usage: `sbt "runMain graft.tools.GenData <sf> <outDir>"`, e.g.
  * `GenData 1 testdata/sf1` → ~6 M-row lineitem.
  *
  * Determinism: every row is a pure function of its id — each field
  * draws from a splitmix64-scrambled per-(table, id, stream) RNG — so
  * output is independent of partitioning and identical across runs.
  * No wall clock, no global RNG.
  *
  * Distribution fidelity (vs the profiled driver data): uniform dims
  * (nationkey, mktsegment, brands...), Poisson(4) lineitems per order
  * (some orders have none), integer-valued quantities 1–50, 2-dp
  * uniform prices, shipdate independent of orderdate, ts-sorted events
  * with dense event_id and Exp(mean 50) values, documents of 10–100
  * tokens over the same 31-word vocabulary with ~4.8% planted
  * 1–2-token-mutated near-dup copies + ~0.2% exact copies (lang/source
  * labels independent of the copy, as observed), embeddings = random
  * 64-dim unit vectors with uniform labels.
  *
  * Physical layout matches the driver: ONE plain parquet file per
  * table at `<outDir>/<name>.parquet` (written via a temp dir, then
  * the single part file is moved into place) so DuckDB `read_parquet`
  * and `Tables.load` see the same paths. `events.ts` is written as
  * TIMESTAMP(MICROS) — Spark cannot write the driver's TIMESTAMP
  * (NANOS) — and `Tables.events` adapts on read.
  */
object GenData {

  // ---- deterministic per-row randomness ----
  /** splitmix64 finalizer: decorrelates java.util.Random's linear
    * seeding so adjacent ids don't produce adjacent streams. */
  private def smix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def rng(table: String, id: Long, stream: Int = 0): java.util.Random =
    new java.util.Random(smix(smix(table.hashCode.toLong << 32 | stream.toLong) ^ id))

  private def round2(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()

  private def poisson(r: java.util.Random, lambda: Double): Int = {
    val l = math.exp(-lambda)
    var k = 0; var p = 1.0
    while ({ p *= r.nextDouble(); p > l }) k += 1
    k
  }

  // ---- profiled constants ----
  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "zh", "es", "fr", "de")
  private val LangCum = Array(0.40, 0.55, 0.70, 0.85, 1.0) // en 40%, rest 15%
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val MktSegs = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val Adjs = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val OrderStatus = Array("O", "F", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val ReturnFlags = Array("N", "R", "A")
  private val LineStatus = Array("F", "O")
  private val EventTypes = Array("signup", "purchase", "view", "click", "error")

  private val DayMicros = 86400L * 1000000L
  private val OrderEpochDay = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  private val OrderDateSpanDays = 2404 // ..2001-08-01
  private val ShipEpochDay = java.time.LocalDate.of(1995, 1, 2).toEpochDay
  private val ShipDateSpanDays = 2498 // ..2001-11-04
  private val EventsEpochMicros =
    java.time.LocalDate.of(2024, 1, 1).toEpochDay * DayMicros
  private val EventsSpanMicros = 30 * DayMicros

  private def pick(r: java.util.Random, a: Array[String]): String = a(r.nextInt(a.length))

  // ---- documents: pure token function + copy planting ----
  /** 0 = base doc, 1 = near-dup copy (1–2 token mutations), 2 = exact
    * copy. Pure in id, so a copy can re-derive its source's tokens. */
  private def copyKind(id: Long): Int = {
    if (id < 100) return 0
    val u = rng("dockind", id).nextDouble()
    if (u < 0.002) 2 else if (u < 0.05) 1 else 0
  }

  private def baseTokens(id: Long): Array[String] = {
    val r = rng("doctext", id)
    Array.fill(10 + r.nextInt(91))(pick(r, Vocab))
  }

  private def docTokens(id: Long): Array[String] = copyKind(id) match {
    case 0 => baseTokens(id)
    case kind =>
      val r = rng("docsrc", id)
      // uniform source below id (profiled deltas span the whole range),
      // walked down to the nearest base doc so sources are never
      // themselves copies (keeps the derivation single-level and pure)
      var j = (r.nextDouble() * id).toLong
      while (j > 0 && copyKind(j) != 0) j -= 1
      val toks = baseTokens(j).clone()
      if (kind == 1) {
        val m = 1 + r.nextInt(2)
        for (_ <- 0 until m) toks(r.nextInt(toks.length)) = pick(r, Vocab)
      }
      toks
  }

  // ---- row case classes (ordered to match the driver schemas) ----
  case class Region(r_regionkey: Long, r_name: String)
  case class Nation(n_nationkey: Long, n_name: String, n_regionkey: Long)
  case class Customer(c_custkey: Long, c_name: String, c_nationkey: Long,
      c_acctbal: Double, c_mktsegment: String)
  case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Long,
      s_acctbal: Double)
  case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.sql.Timestamp, o_orderpriority: String)
  case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: java.sql.Timestamp)
  case class EventRaw(tsMicros: Long, user_id: Long, event_type: String,
      value: Double, props: String)
  case class Document(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  private def tsOfDay(epochDay: Long): java.sql.Timestamp =
    new java.sql.Timestamp(epochDay * 86400L * 1000L)

  // ---- dirty spotify-tracks generator (deterministic fault injection) ----
  //
  // The generated TPC-H-ish corpus is clean, so the DQ/quarantine/gate
  // paths were only ever exercised by tiny hand-written spec fixtures.
  // This section manufactures the reference's spotify_tracks shape AT
  // SCALE with injected faults at fixed per-row rates — every fault is
  // a pure function of the row id (same splitmix64 discipline as the
  // tables above), so a spec can re-derive exactly which rows are bad
  // and assert the DQ reports' counts and sample_keys to the row.

  private val Genres = Array("rock", "jazz", "pop", "classical", "metal",
    "folk", "ambient", "techno")

  /** Fault classes, disjoint by construction (one uniform draw per row
    * walks the cumulative thresholds — a row has at most ONE fault, so
    * expected counts are exact and independently assertable). */
  object TrackFault extends Enumeration {
    val None, NullTrackId, NullArtists, NullTrackName, DanceOutOfRange,
        LoudnessOutOfRange, NullPopularity, PopularityOverMax, DupTrackId = Value
  }

  /** The fault planted on row `id` — pure, so specs re-derive it. */
  def trackFault(id: Long): TrackFault.Value = {
    if (id < 10) return TrackFault.None // keep a clean head (dup sources)
    val u = rng("trackfault", id).nextDouble()
    if (u < 0.002) TrackFault.NullTrackId
    else if (u < 0.004) TrackFault.NullArtists
    else if (u < 0.006) TrackFault.NullTrackName
    else if (u < 0.010) TrackFault.DanceOutOfRange
    else if (u < 0.014) TrackFault.LoudnessOutOfRange
    else if (u < 0.030) TrackFault.NullPopularity
    else if (u < 0.040) TrackFault.PopularityOverMax
    else if (u < 0.050) TrackFault.DupTrackId
    else TrackFault.None
  }

  /** Boxed numerics so injected nulls survive the encoder. */
  case class Track(index: Long, track_id: String, artists: String,
      album_name: String, track_name: String, popularity: java.lang.Double,
      duration_ms: java.lang.Double, danceability: java.lang.Double,
      energy: java.lang.Double, loudness: java.lang.Double,
      tempo: java.lang.Double, track_genre: String)

  /** Row `id` of the dirty corpus — clean values first, then the
    * planted fault overrides one field. */
  def trackRow(id: Long): Track = {
    val r = rng("track", id)
    val clean = Track(id, f"tr$id%08d", s"artist-${r.nextInt(500)}",
      s"alb${r.nextInt(800)}", s"song$id", round2(r.nextDouble() * 100),
      (60000 + r.nextInt(240000)).toDouble, r.nextDouble(), r.nextDouble(),
      round2(-60 + r.nextDouble() * 60), round2(60 + r.nextDouble() * 120),
      Genres(r.nextInt(Genres.length)))
    trackFault(id) match {
      case TrackFault.None               => clean
      case TrackFault.NullTrackId        => clean.copy(track_id = null)
      case TrackFault.NullArtists        => clean.copy(artists = null)
      case TrackFault.NullTrackName      => clean.copy(track_name = null)
      case TrackFault.DanceOutOfRange    => clean.copy(danceability = 1.0 + r.nextDouble())
      case TrackFault.LoudnessOutOfRange => clean.copy(loudness = round2(1 + r.nextDouble() * 10))
      case TrackFault.NullPopularity     => clean.copy(popularity = null)
      case TrackFault.PopularityOverMax  => clean.copy(popularity = round2(101 + r.nextDouble() * 50))
      case TrackFault.DupTrackId         => clean.copy(track_id = f"tr${id - 1}%08d")
    }
  }

  /** Distributed dirty-tracks frame: `n` rows, faults at the
    * [[trackFault]] rates (~0.2% null ids, ~0.4% range violations, ...,
    * ~5% total). Scale-shaped like the main generator — spark.range +
    * a pure row function, no driver materialization. */
  def dirtyTracks(spark: SparkSession, n: Long,
      numPartitions: Int = 8): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).map(trackRow(_)).toDF
  }

  /** Corrupt-CSV twin for the quarantine path: the same rows rendered
    * as CSV, plus structurally corrupt lines (non-numeric popularity) at
    * a deterministic ~1% rate. Written distributed (spark text sink);
    * corrupt ids are `isCsvCorrupt`, so specs assert exact splits. */
  def isCsvCorrupt(id: Long): Boolean =
    id >= 10 && rng("trackcsv", id).nextDouble() < 0.01

  def writeDirtyTracksCsv(spark: SparkSession, path: String, n: Long,
      numPartitions: Int = 8): Unit = {
    import spark.implicits._
    val header = spark.createDataset(Seq(
      "index,track_id,artists,album_name,track_name,popularity,duration_ms," +
      "danceability,energy,loudness,tempo,track_genre"))
    val body = spark.range(0, n, 1, numPartitions).map { id =>
      if (isCsvCorrupt(id)) s"$id,tr_corrupt,artist,alb,song,NOT_A_NUMBER,x,y,z,w,v,rock"
      else {
        val t = trackRow(id)
        def d(x: java.lang.Double) = if (x == null) "" else x.toString
        Seq(t.index.toString, Option(t.track_id).getOrElse(""),
          Option(t.artists).getOrElse(""), t.album_name,
          Option(t.track_name).getOrElse(""), d(t.popularity), d(t.duration_ms),
          d(t.danceability), d(t.energy), d(t.loudness), d(t.tempo),
          t.track_genre).mkString(",")
      }
    }
    header.union(body).coalesce(1).write.mode(SaveMode.Overwrite).text(path)
  }

  def main(args: Array[String]): Unit = {
    val sf = args(0).toDouble
    val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.memory", "8g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // row counts: sf0.1 base × 10·sf (sf1 → TPC-H-ish sf1 counts)
    def n(base0p1: Long): Long = math.max(1L, math.round(base0p1 * sf * 10))
    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrders = n(150000); val nEvents = n(100000); val nUsers = n(1500)
    val nDocs = n(5000); val nVecs = n(2000)
    val genParts = math.max(cpus.toInt, (nOrders / 50000).toInt)

    Files.createDirectories(Paths.get(outDir))

    /** Write as ONE plain parquet file at <outDir>/<name>.parquet
      * (driver layout, readable by duckdb read_parquet).
      *
      * Row groups are capped at 16 MB: Spark parallelizes a single
      * parquet file by assigning row groups to input splits, so a
      * single-row-group file (the Spark writer's 128 MB default block
      * produced one 122 MB group for sf5 orders) serializes EVERY scan
      * of that table onto one core regardless of split count. A real
      * lake has many files/row groups per table; 16 MB groups restore
      * that property while keeping the driver's one-file layout. */
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", (8L << 20).toString)
        .parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, Paths.get(s"$outDir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      // clean the temp dir (crc/_SUCCESS files)
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      println(s"[gendata] wrote $outDir/$name.parquet")
    }

    def ids(count: Long) = spark.range(0, count, 1, genParts)

    writeOne(Regions.indices.map(i => Region(i.toLong, Regions(i))).toDS.toDF, "region")
    writeOne((0 until 25).map(i => Nation(i.toLong, s"NATION_$i", i % 5)).toDS.toDF, "nation")

    writeOne(ids(nCust).map { i =>
      val r = rng("customer", i)
      Customer(i, f"Customer#$i%09d", r.nextInt(25).toLong,
        round2(-1000 + r.nextDouble() * 11000), pick(r, MktSegs))
    }.toDF, "customer")

    writeOne(ids(nSupp).map { i =>
      val r = rng("supplier", i)
      Supplier(i, f"Supplier#$i%09d", r.nextInt(25).toLong,
        round2(-1000 + r.nextDouble() * 11000))
    }.toDF, "supplier")

    writeOne(ids(nPart).map { i =>
      val r = rng("part", i)
      Part(i, s"${pick(r, Adjs)} ${pick(r, Nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, PartTypes), 1 + r.nextInt(50),
        round2(900.0 + (i % 1000) * 0.1))
    }.toDF, "part")

    writeOne(ids(nOrders).map { i =>
      val r = rng("orders", i)
      Order(i, (r.nextDouble() * nCust).toLong, pick(r, OrderStatus),
        round2(1000 + r.nextDouble() * 499000),
        tsOfDay(OrderEpochDay + r.nextInt(OrderDateSpanDays + 1)),
        pick(r, Priorities))
    }.toDF, "orders")

    writeOne(ids(nOrders).flatMap { ok =>
      val r = rng("lineitem", ok)
      (1 to poisson(r, 4.0)).map { ln =>
        Lineitem(ok, (r.nextDouble() * nPart).toLong, (r.nextDouble() * nSupp).toLong,
          ln, (1 + r.nextInt(50)).toDouble, round2(900 + r.nextDouble() * 104100),
          round2(r.nextInt(11) * 0.01), round2(r.nextInt(9) * 0.01),
          pick(r, ReturnFlags), pick(r, LineStatus),
          tsOfDay(ShipEpochDay + r.nextInt(ShipDateSpanDays + 1)))
      }
    }.toDF, "lineitem")

    // events: ts-sorted with dense sequential event_id (driver layout);
    // zipWithIndex after the range-partitioned sort preserves order
    val rawEvents = ids(nEvents).map { i =>
      val r = rng("events", i)
      EventRaw(EventsEpochMicros + (r.nextDouble() * EventsSpanMicros).toLong,
        (r.nextDouble() * nUsers).toLong, pick(r, EventTypes),
        round2(-50.0 * math.log1p(-r.nextDouble())), s"""{"k": ${r.nextInt(100)}}""")
    }.orderBy("tsMicros")
    val events = rawEvents.rdd.zipWithIndex.map { case (e, idx) =>
      (idx, e.tsMicros, e.user_id, e.event_type, e.value, e.props)
    }.toDF("event_id", "tsMicros", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    writeOne(events, "events")

    writeOne(ids(nDocs).map { i =>
      val r = rng("docmeta", i)
      val u = r.nextDouble()
      val lang = Langs(LangCum.indexWhere(u <= _))
      val text = docTokens(i).mkString(" ")
      Document(i, text, lang, s"src${i % 20}", text.length.toLong)
    }.toDF, "documents")

    writeOne(ids(nVecs).map { i =>
      val r = rng("embeddings", i)
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }.toDF, "embeddings")

    println(s"[gendata] sf=$sf done: lineitem~${nOrders * 4} orders=$nOrders " +
      s"customer=$nCust events=$nEvents docs=$nDocs vecs=$nVecs -> $outDir")
    spark.stop()
  }
}
