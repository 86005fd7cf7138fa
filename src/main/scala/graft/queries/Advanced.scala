package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{EraDate, Text}
import graft.operators.{AsOfJoin, HllSketch, Materialize, Multimodal,
  ProductAgg}

/** Remaining operator surface: interval-formulated as-of joins, era-date
  * parsing, multimodal feature extraction, and the custom exact product
  * Aggregator as a group aggregate.
  */
object Advanced {

  /** §2.3 as-of join, validity-interval formulation (00116:146-195) —
    * must produce exactly the rows of the union-sort q06 plan. */
  def q33IntervalAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("asof_event_id"), col("value").as("asof_value"))
    AsOfJoin.intervalJoin(clicks, purchases, Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        payload = Seq("asof_event_id", "asof_value"))
      .select(col("event_id"), col("user_id"), col("asof_event_id"),
        col("asof_value"))
      .orderBy(col("event_id"))
  }

  /** §2.8 era-date round trip (mof/client.ts:45-95): format each order
    * date as a 元号 string, parse it back with the engine's parser. */
  def q34EraDates(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val dt = to_date(col("o_orderdate"))
    o.select(col("o_orderkey"), dt.as("orderdate"),
        EraDate.formatEraDate(dt).as("era_str"))
      .withColumn("parsed", EraDate.parseEraDate(col("era_str")))
      .withColumn("roundtrip_ok", col("parsed") <=> col("orderdate"))
      .orderBy(col("o_orderkey"))
  }

  /** Multimodal feature extraction: REAL binary payloads (baseline JPEG
    * image, PCM16 WAV audio, MJPEG video) decoded by the real codecs via
    * typed mapPartitions — every feature column is a decoded statistic
    * (Multimodal.decodeFeatures; the declared stub retired in round 8). */
  def q35MultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.features(s, dir)

  /** §2.10 custom exact product Aggregator as a group aggregate
    * (numeric_product, 00093:24-37): per-order product of integer-scaled
    * tax factors via the registered UDAF. */
  def q36ProductAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val factorScaled = floor(col("l_tax") * 100 + lit(0.5)) + lit(100.0)
    // cap at 7 factors per group: 108^7 < 2^53 keeps the product exactly
    // representable in double regardless of combination order (108^11 does
    // not — an 11-line order surfaced as a 1-ulp oracle divergence)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_tax"))
    li.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 7)
      .withColumn("__f", factorScaled.cast("decimal(10,0)"))
      .groupBy(col("l_orderkey"))
      .agg(ProductAgg.decimalProduct(col("__f")).as("prod_scaled"),
        count(lit(1)).as("n"))
      .withColumn("tax_factor",
        col("prod_scaled").cast("double") / pow(lit(100.0), col("n")))
      .select(col("l_orderkey"), col("n"), col("tax_factor"))
      .orderBy(col("l_orderkey"))
  }

  /** §2.1 landed-JSON payload scan (scrape payloads parsed set-oriented
    * with from_json): events.props is a JSON string — parse, extract, and
    * aggregate per event type. */
  def q37JsonPayload(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    graft.sources.Sources.parseJsonPayload(ev, "props", schema)
      .select(col("event_type"), col("__payload.k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .withColumn("avg_k", col("sum_k").cast("double") / col("n_with_k"))
      .orderBy(col("event_type"))
  }

  /** §2.3 multi-key in-list (semi) join — bars for (codes × dates)
    * (refresh-basket-metrics.ts:357-386): keep lineitems whose
    * (orderkey, shipdate-month) appears in a derived key set. */
  def q39MultiKeySemi(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    // key set: urgent orders × their order-month
    val keys = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("k_month"))
      .distinct()
    li.withColumn("ship_month",
        date_trunc("month", col("l_shipdate")).cast("date"))
      .join(keys, col("l_orderkey") === col("k_orderkey") &&
        col("ship_month") === col("k_month"), "left_semi")
      .groupBy(col("ship_month"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"))
      .orderBy(col("ship_month"))
  }

  /** §2.6 top-k per group with k>1 (latest-3 orders per customer —
    * the per-series history limit, 00042:16-25). */
  def q40TopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    graft.operators.Windows.topKPerGroup(o, Seq(col("o_custkey")),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc), k = 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** §2.4 `DISTINCT ON` with non-null preference (day_factors,
    * 00093:50-58; top-1-per-series 00033:13-21): one event row per
    * (user, day), preferring rows with a props payload, then latest. */
  def q41DistinctOnPreferNonNull(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("day"))
      .orderBy(col("props").isNull.cast("int"), col("ts").desc,
        col("event_id").desc)
    ev.withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("day"))
  }

  // --------------------------------------------------------------------
  // Oracles
  // --------------------------------------------------------------------

  val oracleQ41: String =
    """SELECT user_id, day, event_id, value FROM (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |      ORDER BY CAST(props IS NULL AS INT), ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id, day""".stripMargin

  val oracleQ39: String =
    """WITH keys AS (
      |  SELECT DISTINCT o_orderkey AS k_orderkey,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS k_month
      |  FROM orders WHERE o_orderpriority = '1-URGENT'
      |)
      |SELECT ship_month, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      |FROM (
      |  SELECT l_quantity,
      |    CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
      |    l_orderkey
      |  FROM lineitem) li
      |WHERE EXISTS (SELECT 1 FROM keys
      |              WHERE k_orderkey = li.l_orderkey
      |                AND k_month = li.ship_month)
      |GROUP BY ship_month ORDER BY ship_month""".stripMargin

  val oracleQ40: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey
      |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders) t
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  val oracleQ37: String =
    """SELECT event_type,
      |  COUNT(CAST(props->>'$.k' AS BIGINT)) AS n_with_k,
      |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
      |  MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k,
      |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS DOUBLE)
      |    / COUNT(CAST(props->>'$.k' AS BIGINT)) AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val oracleQ34: String = {
    // era string + parse result computed analytically from the date; the
    // Spark side does the actual string round trip
    val eraCase = EraDate.eraOffsets.map { case (name, off) =>
      s"WHEN year(orderdate) > $off THEN '$name' || (year(orderdate) - $off) " +
        s"|| '.' || month(orderdate) || '.' || day(orderdate)"
    }.mkString(" ")
    s"""SELECT o_orderkey, orderdate,
       |  CASE $eraCase END AS era_str,
       |  CASE WHEN year(orderdate) > 1867 THEN orderdate END AS parsed,
       |  CASE WHEN year(orderdate) > 1867 THEN orderdate END IS NOT DISTINCT FROM orderdate AS roundtrip_ok
       |FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS orderdate FROM orders) t
       |ORDER BY o_orderkey""".stripMargin
  }

  /** Shared dims/checksum CTEs for the real-codec media oracles
    * (q35/q51/q182): the synthesized payloads are exact functions of
    * doc_id (Multimodal.mediaDims / flatBlockPixels / the WAV sample
    * formula), and on the flat-even-block subspace the lossy JPEG
    * pipeline reconstructs bit-exactly, so DECODED statistics are
    * arithmetic here. */
  private val mediaDimsCte: String =
    """dims AS (
      |  SELECT doc_id,
      |    CAST(8 * (1 + doc_id % 4) AS INT) AS w,
      |    CAST(8 * (1 + doc_id % 3) AS INT) AS h
      |  FROM documents
      |)""".stripMargin

  val oracleQ35: String =
    s"""WITH $mediaDimsCte, img AS (
       |  SELECT doc_id,
       |    CAST(SUM(64 * (2 * ((doc_id * 37 + b * 53) % 128))) AS BIGINT)
       |      AS checksum
       |  FROM (SELECT doc_id, unnest(range(0, (w // 8) * (h // 8))) AS b
       |        FROM dims WHERE doc_id % 3 = 0)
       |  GROUP BY doc_id
       |), aud AS (
       |  SELECT doc_id,
       |    CAST(SUM((doc_id * 31 + i * 17) % 2048 - 1024) AS BIGINT)
       |      AS checksum
       |  FROM (SELECT doc_id, unnest(range(0, 64 + doc_id % 101)) AS i
       |        FROM documents WHERE doc_id % 3 = 1)
       |  GROUP BY doc_id
       |), vid AS (
       |  SELECT doc_id,
       |    CAST(SUM(64 * (2 * ((doc_id * 37 + f * 11 + b * 53) % 128)))
       |      AS BIGINT) AS checksum
       |  FROM (SELECT doc_id, f, unnest(range(0, (w // 8) * (h // 8))) AS b
       |        FROM (SELECT doc_id, w, h,
       |                unnest(range(0, 1 + doc_id % 5)) AS f
       |              FROM dims WHERE doc_id % 3 = 2))
       |  GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  CASE WHEN d.doc_id % 3 = 0 THEN 'image'
       |       WHEN d.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
       |    AS media_type,
       |  CAST(CASE WHEN d.doc_id % 3 = 0 THEN d.w * d.h
       |            WHEN d.doc_id % 3 = 1 THEN 64 + d.doc_id % 101
       |            ELSE (1 + d.doc_id % 5) * d.w * d.h END AS BIGINT)
       |    AS n_samples,
       |  CAST(CASE WHEN d.doc_id % 3 = 1 THEN 0 ELSE d.w END AS INT) AS width,
       |  CAST(CASE WHEN d.doc_id % 3 = 1 THEN 0 ELSE d.h END AS INT) AS height,
       |  CAST(CASE WHEN d.doc_id % 3 = 2 THEN 1 + d.doc_id % 5 ELSE 1 END
       |    AS INT) AS n_frames,
       |  COALESCE(i.checksum, a.checksum, v.checksum) AS checksum
       |FROM dims d
       |LEFT JOIN img i USING (doc_id)
       |LEFT JOIN aud a USING (doc_id)
       |LEFT JOIN vid v USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  val oracleQ36: String =
    """SELECT l_orderkey, COUNT(*) AS n,
      |  product(floor(l_tax * 100 + 0.5) + 100.0)
      |    / power(100.0, CAST(COUNT(*) AS DOUBLE)) AS tax_factor
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |        ORDER BY l_linenumber, l_tax) AS rn FROM lineitem) t
      |WHERE rn <= 7
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** §2.7 set difference both directions — the constituents diff
    * (diffSectorConstituents, basket-valuation.ts:442-448): target vs
    * current membership → (to_add, to_close) via `except` (set semantics,
    * deduped — tiny relations per the reference's usage). */
  def q49ConstituentsDiff(s: SparkSession, dir: String): DataFrame = {
    val c = graft.Tables.customer(s, dir)
    val current = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("code"))
    val target = c.filter(col("c_acctbal") > 5000.0)
      .select(col("c_custkey").as("code"))
    val toAdd = target.except(current).withColumn("action", lit("add"))
    val toClose = current.except(target).withColumn("action", lit("close"))
    toAdd.unionByName(toClose)
      .select(col("action"), col("code"))
      .orderBy(col("action"), col("code"))
  }

  val oracleQ49: String =
    """SELECT 'add' AS action, code FROM (
      |  SELECT c_custkey AS code FROM customer WHERE c_acctbal > 5000.0
      |  EXCEPT
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |UNION ALL
      |SELECT 'close' AS action, code FROM (
      |  SELECT c_custkey AS code FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
      |ORDER BY action, code""".stripMargin

  /** §2.1 HTML/JS scrape payload parse (parseNikkei225jpDaily /
    * parseYahooChart): the landed page embeds the data as a JS object;
    * extraction = one regexp group + from_json, set-oriented end to end.
    * The page envelope is built from the events payload column so the
    * oracle can rebuild the identical pages in SQL. */
  def q50HtmlScrape(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val page = concat(lit("<html><body><script>var data = "), col("props"),
      lit(";</script></body></html>"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    graft.sources.Sources.parseEmbeddedJson(
        ev.withColumn("page", page), "page", "var data = (\\{.*?\\});", schema)
      .select(col("event_type"), col("__payload.k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_payloads"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  val oracleQ50: String =
    """WITH pages AS (
      |  SELECT event_type,
      |    '<html><body><script>var data = ' || props || ';</script></body></html>' AS page
      |  FROM events
      |), parsed AS (
      |  SELECT event_type,
      |    CAST(nullif(regexp_extract(page, 'var data = (\{.*?\});', 1), '')
      |         AS JSON)->>'$.k' AS kv
      |  FROM pages
      |)
      |SELECT event_type,
      |  COUNT(CAST(kv AS BIGINT)) AS n_payloads,
      |  CAST(SUM(CAST(kv AS BIGINT)) AS BIGINT) AS sum_k
      |FROM parsed GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Multimodal frame-sample + resize planning (the video stages of the
    * training pipeline): every-3rd-frame explosion with 224-letterbox dims
    * over the q35 feature table — declarative generator, bytes never
    * shuffle (Multimodal.sampleFrames). */
  def q51FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.features(s, dir), everyN = 3, target = 224)
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Distributed HLL cardinality sketch ([[HllSketch.Hll60]]) gated
    * EXACTLY: per event_type, the sketch's estimate (1e-6-grid), its
    * zero-register count, its exact scaled indicator sum s51 (= the full
    * register state, order-independently), and the true distinct count
    * for comparison. At 100 TB this is the monitoring shape: map-side
    * mergeable 1 KiB buffers per group instead of a distinct shuffle —
    * the exact count here exists only to gate the sketch's error.
    *
    * Scale note: count_distinct forces the usual expand/two-phase
    * distinct plan; a production monitor would drop that column and keep
    * only the sketch. */
  def q82HllDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), col("user_id"),
        Text.hash60(col("user_id").cast("string")).as("h60"))
      .groupBy(col("event_type"))
      .agg(HllSketch.hll60(col("h60")).as("hll"),
        count_distinct(col("user_id")).as("n_exact"))
      .select(col("event_type"),
        col("hll.est6").as("est6"),
        col("hll.hll_estimate").as("hll_estimate"),
        col("hll.n_zero_registers").as("n_zero_registers"),
        col("hll.s51").as("s51"),
        col("n_exact"))
      .orderBy(col("event_type"))

  val oracleQ82: String = {
    import HllSketch.{HllAlphaNum, HllLcThreshold, HllM, HllRhoMax}
    s"""WITH h AS (
       |  SELECT event_type, user_id,
       |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h60
       |  FROM events
       |), reg AS (
       |  SELECT event_type, h60 % $HllM AS r, h60 // $HllM AS w FROM h
       |), mj AS (
       |  SELECT event_type, r,
       |    MAX(CASE WHEN w = 0 THEN $HllRhoMax
       |        ELSE $HllRhoMax - len(bin(w)) END) AS m_j
       |  FROM reg GROUP BY event_type, r
       |), st AS (
       |  SELECT event_type,
       |    CAST(SUM(CAST(1 AS BIGINT) << ($HllRhoMax - m_j)) AS BIGINT)
       |      AS s_present,
       |    COUNT(*) AS n_present
       |  FROM mj GROUP BY event_type
       |), fin AS (
       |  SELECT event_type,
       |    s_present + ($HllM - n_present)
       |      * (CAST(1 AS BIGINT) << $HllRhoMax) AS s51,
       |    $HllM - n_present AS n_zero_registers
       |  FROM st
       |), est AS (
       |  SELECT event_type, s51, n_zero_registers,
       |    CASE WHEN CAST('$HllAlphaNum' AS DOUBLE) / s51 <= $HllLcThreshold
       |              AND n_zero_registers > 0
       |         THEN $HllM.0 * ln($HllM.0 / n_zero_registers)
       |         ELSE CAST('$HllAlphaNum' AS DOUBLE) / s51 END AS raw_est
       |  FROM fin
       |), ex AS (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
       |  FROM h GROUP BY event_type
       |)
       |SELECT e.event_type,
       |  CAST(floor(raw_est * 1e6 + 0.5) AS BIGINT) AS est6,
       |  CAST(floor(raw_est * 1e6 + 0.5) AS BIGINT) / 1e6 AS hll_estimate,
       |  n_zero_registers, s51, n_exact
       |FROM est e JOIN ex USING (event_type)
       |ORDER BY event_type""".stripMargin
  }

  /** REAL multimodal codec gate: synthesize genuine BMP/WAV payload bytes
    * per document (deterministic integer content), decode them with the
    * real pure-JVM parsers ([[Multimodal.decodeBmp]]/[[Multimodal.decodeWav]]
    * — header walk, bottom-up padded pixel rows, RIFF chunk skip), and
    * report per-doc decode statistics. The oracle derives the expected
    * DECODED values arithmetically from doc_id, so any decode bug — a
    * wrong header offset, mishandled row padding, an unskipped JUNK
    * chunk, top-down/bottom-up confusion (corner_sum) — breaks the hash
    * match. Complements q35/q51, which gate the metadata plumbing around
    * the declared codec stub. */
  def q78MediaDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeStats(s, dir)

  val oracleQ78: String =
    """WITH d AS (SELECT doc_id FROM documents),
      |bmp AS (
      |  SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS w,
      |    CAST(3 + doc_id % 7 AS INT) AS h
      |  FROM d WHERE doc_id % 2 = 0
      |), bmps AS (
      |  SELECT doc_id, 'bmp' AS media_type,
      |    CAST(54 + ((w*3 + 3) // 4 * 4) * h AS BIGINT) AS n_bytes,
      |    w AS width, h AS height,
      |    CAST(NULL AS INT) AS sample_rate, CAST(NULL AS BIGINT) AS n_samples,
      |    CAST(list_aggregate(list_transform(range(0, w*h*3),
      |      i -> (doc_id*7 + i) % 256), 'sum') AS BIGINT) AS content_sum,
      |    CAST((doc_id*7) % 256 + (doc_id*7 + 1) % 256 + (doc_id*7 + 2) % 256
      |      AS BIGINT) AS corner_sum
      |  FROM bmp
      |), wav AS (
      |  SELECT doc_id, CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sr,
      |    50 + doc_id % 100 AS ns
      |  FROM d WHERE doc_id % 2 = 1
      |), wavs AS (
      |  SELECT doc_id, 'wav' AS media_type,
      |    CAST(44 + CASE WHEN doc_id % 4 = 1 THEN 12 ELSE 0 END + ns*2
      |      AS BIGINT) AS n_bytes,
      |    CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
      |    sr AS sample_rate, CAST(ns AS BIGINT) AS n_samples,
      |    CAST(list_aggregate(list_transform(range(0, ns),
      |      i -> (doc_id*31 + i*17) % 65536 - 32768), 'sum') AS BIGINT)
      |      AS content_sum,
      |    CAST(NULL AS BIGINT) AS corner_sum
      |  FROM wav
      |)
      |SELECT * FROM bmps UNION ALL SELECT * FROM wavs
      |ORDER BY doc_id""".stripMargin

  /** REAL compressed-codec gate (the step past q78's uncompressed
    * formats): synthesize genuine PNG files per document — DEFLATE
    * compression, CRC-32 chunks, per-row filters cycling through all five
    * spec types — and decode them with the real pure-JVM inflate +
    * unfilter path ([[Multimodal.decodePng]]). The oracle derives every
    * decoded statistic arithmetically from doc_id, so a wrong filter
    * reversal, a mis-concatenated IDAT, or a short inflate breaks the
    * hash match. */
  def q91PngDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.pngDecodeStats(s, dir)

  /** q140 — REAL GIF87a/LZW decode ([[Multimodal.decodeGif]]): per doc a
    * deterministic indexed image rides through the variable-code-width
    * LZW encoder and back; the closed-form oracle reproduces the decode
    * stats arithmetically (q78/q91 contract). Image sizes push the LZW
    * dictionary past 512 entries, so the 9→10-bit width transition — the
    * classic desync bug in LZW implementations — is exercised on every
    * row. */
  def q140GifDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.gifDecodeStats(s, dir)

  val oracleQ140: String =
    """SELECT doc_id,
      |  CAST(16 + doc_id % 16 AS INT) AS width,
      |  CAST(16 + doc_id % 8 AS INT) AS height,
      |  CAST(list_aggregate(list_transform(
      |    range(0, (16 + doc_id % 16) * (16 + doc_id % 8)),
      |    i -> (doc_id*7 + i*31) % 256), 'sum') AS BIGINT) AS idx_sum,
      |  CAST(255 + (7 * ((doc_id*7) % 256)) % 256 AS BIGINT) AS first_rgb
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** The watermarked tumbling-window aggregation
    * ([[graft.streaming.WindowedAgg.tumbling]]) run TO COMPLETION
    * in-process — the canonical readStream → watermark → window → agg →
    * writeStream shape as a CORRECTNESS row: the full events table
    * arrives in ts order on a MemoryStream in three micro-batches, the
    * 10-minute watermark bounds state, append mode emits each 1-hour
    * (window, user) bucket exactly once when the watermark closes it,
    * and a far-future sentinel (whose own window never closes, so it
    * never reaches the sink) flushes the tail. The accumulated sink must
    * hash-match the plain batch GROUP BY — THE windowed-streaming
    * equivalence, previously spec-only.
    *
    * The driver-side collect feeds only the in-process test transport
    * (cf. q92); production replaces MemoryStream with readStream. */
  def q93StreamWindowedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamRunner, WindowedAgg}
    import graft.streaming.WindowedAgg.Event
    val evs = Tables.events(s, dir)
      .select(col("ts"), col("user_id"), col("value"))
      .as[(java.sql.Timestamp, Long, Double)].collect().toSeq
      .sortBy(_._1.getTime) // in-order arrival: nothing is watermark-late
      .map { case (ts, u, v) => Event(ts, u, v) }
    StreamRunner.sorted(s, StreamRunner.slices(evs, 3),
      Seq(Event(java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L, 0.0)))(
      WindowedAgg.tumbling(_, "1 hour", "10 minutes"))(
      _.select(col("win_start"), col("userId").as("user_id"),
        col("n_events"), col("total")), col("win_start"), col("user_id"))
  }

  val oracleQ93: String =
    """SELECT date_trunc('hour', ts) AS win_start, user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2
      |ORDER BY win_start, user_id""".stripMargin

  /** The streaming windowed HLL cardinality monitor
    * ([[graft.streaming.StreamCardinality.windowedDistinct]]) run TO
    * COMPLETION in-process — q93's transport (in-order MemoryStream
    * micro-batches, far-future sentinel flush) carrying q82's sketch: the
    * state store holds 1 KiB register arrays per (hour window, event type)
    * instead of unbounded distinct-user sets, which is the only way a
    * streaming distinct-count survives 100 TB. The oracle replays the
    * registers per window exactly as q82's does for the global sketch, so
    * the gate pins estimate, zero-register count, and the lossless s51
    * register digest bit-for-bit — stream ≡ batch ≡ DuckDB. */
  def q95StreamCardinality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamCardinality, StreamRunner}
    import graft.streaming.StreamCardinality.Event
    val evs = Tables.events(s, dir)
      .select(col("ts"), col("user_id"), col("event_type"))
      .as[(java.sql.Timestamp, Long, String)].collect().toSeq
      .sortBy(_._1.getTime) // in-order arrival: nothing is watermark-late
      .map { case (ts, u, t) => Event(ts, u, t) }
    StreamRunner.sorted(s, StreamRunner.slices(evs, 3),
      Seq(Event(java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "zz")))(
      StreamCardinality.windowedDistinct(_, "1 hour", "10 minutes"))(
      _.select(col("win_start"), col("eventType").as("event_type"),
        col("n_events"), col("distinct_users_est"), col("s51")),
      col("win_start"), col("event_type"))
  }

  /** q82's register replay, per (hour window, event_type): identical HLL
    * math on the identical md5-prefix hash, windowed. */
  val oracleQ95: String = {
    import HllSketch.{HllAlphaNum, HllLcThreshold, HllM, HllRhoMax}
    s"""WITH h AS (
       |  SELECT date_trunc('hour', ts) AS win_start, event_type,
       |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h60
       |  FROM events
       |), mj AS (
       |  SELECT win_start, event_type, h60 % $HllM AS r,
       |    MAX(CASE WHEN h60 // $HllM = 0 THEN $HllRhoMax
       |        ELSE $HllRhoMax - len(bin(h60 // $HllM)) END) AS m_j
       |  FROM h GROUP BY win_start, event_type, h60 % $HllM
       |), fin AS (
       |  SELECT win_start, event_type,
       |    CAST(SUM(CAST(1 AS BIGINT) << ($HllRhoMax - m_j)) AS BIGINT)
       |      + ($HllM - COUNT(*)) * (CAST(1 AS BIGINT) << $HllRhoMax)
       |      AS s51,
       |    $HllM - COUNT(*) AS n_zero
       |  FROM mj GROUP BY win_start, event_type
       |), est AS (
       |  SELECT win_start, event_type, s51,
       |    CASE WHEN CAST('$HllAlphaNum' AS DOUBLE) / s51 <= $HllLcThreshold
       |              AND n_zero > 0
       |         THEN $HllM.0 * ln($HllM.0 / n_zero)
       |         ELSE CAST('$HllAlphaNum' AS DOUBLE) / s51 END AS raw_est
       |  FROM fin
       |), n AS (
       |  SELECT date_trunc('hour', ts) AS win_start, event_type,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1, 2
       |)
       |SELECT e.win_start, e.event_type, n.n_events,
       |  CAST(floor(raw_est * 1e6 + 0.5) AS BIGINT) / 1e6
       |    AS distinct_users_est,
       |  e.s51
       |FROM est e JOIN n USING (win_start, event_type)
       |ORDER BY win_start, event_type""".stripMargin
  }

  /** The stateful streaming breadth machine
    * ([[graft.streaming.BreadthStream.directions]],
    * `flatMapGroupsWithState` with O(1) per-key state) run TO COMPLETION
    * over the real daily closes — the last spec-only streaming shape as a
    * CORRECTNESS row. Daily closes arrive on a MemoryStream in day order
    * across three micro-batches (so per-key state must survive batch
    * boundaries — the thing the spec's single-batch test could not force),
    * each update emits the entity's direction vs its previous close, and
    * the sink aggregates to daily advancers/decliners — the reference's
    * breadth accumulator (market-breadth.ts:121-275) as stream-then-agg.
    * Unlike q19 (prev_close IS NULL excluded from counts), dir=0 here
    * covers both first-observation and unchanged — the state machine's own
    * contract, which the oracle replays with lag().
    *
    * The driver-side collect feeds only the in-process test transport
    * (cf. q92/q93); production replaces MemoryStream with readStream. */
  def q96StreamBreadth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.{BreadthStream, StreamRunner}
    import graft.streaming.BreadthStream.Tick
    val wDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val ticks = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("close"))
      .as[(Long, java.sql.Date, Double)].collect().toSeq
      .sortBy(_._2.getTime) // day order: per-key state sees days ascending
      .map { case (u, d, c) => Tick(u, d, c) }
    StreamRunner.sorted(s, StreamRunner.slices(ticks, 3), Nil)(
      BreadthStream.directions)(
      _.groupBy(col("day"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("dir") === 1, 1).otherwise(0)).as("advancers"),
          sum(when(col("dir") === -1, 1).otherwise(0)).as("decliners"),
          sum(when(col("dir") === 0, 1).otherwise(0)).as("flat_or_first")),
      col("day"))
  }

  val oracleQ96: String =
    """WITH daily AS (
      |  SELECT user_id, day, close FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS day, value AS close,
      |      ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) t WHERE rn = 1
      |), dirs AS (
      |  SELECT day,
      |    CASE WHEN lag(close) OVER w IS NULL THEN 0
      |         WHEN close > lag(close) OVER w THEN 1
      |         WHEN close < lag(close) OVER w THEN -1 ELSE 0 END AS dir
      |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
      |)
      |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(CASE WHEN dir = 1 THEN 1 ELSE 0 END) AS BIGINT) AS advancers,
      |  CAST(SUM(CASE WHEN dir = -1 THEN 1 ELSE 0 END) AS BIGINT) AS decliners,
      |  CAST(SUM(CASE WHEN dir = 0 THEN 1 ELSE 0 END) AS BIGINT) AS flat_or_first
      |FROM dirs GROUP BY day ORDER BY day""".stripMargin

  val oracleQ91: String =
    """SELECT doc_id,
      |  CAST(4 + doc_id % 11 AS INT) AS width,
      |  CAST(3 + doc_id % 5 AS INT) AS height,
      |  CAST(list_aggregate(list_transform(
      |    range(0, (4 + doc_id % 11) * (3 + doc_id % 5) * 3),
      |    i -> (doc_id*13 + i*29) % 256), 'sum') AS BIGINT) AS content_sum,
      |  CAST((doc_id*13) % 256 + (doc_id*13 + 29) % 256
      |    + (doc_id*13 + 58) % 256 AS BIGINT) AS corner_sum,
      |  CAST(least(3 + doc_id % 5, 5) AS INT) AS n_filters
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  val oracleQ51: String =
    s"""WITH $mediaDimsCte, vid AS (
       |  SELECT doc_id,
       |    CAST(SUM(64 * (2 * ((doc_id * 37 + f * 11 + b * 53) % 128)))
       |      AS BIGINT) AS checksum
       |  FROM (SELECT doc_id, f, unnest(range(0, (w // 8) * (h // 8))) AS b
       |        FROM (SELECT doc_id, w, h,
       |                unnest(range(0, 1 + doc_id % 5)) AS f
       |              FROM dims WHERE doc_id % 3 = 2))
       |  GROUP BY doc_id
       |), f AS (
       |  SELECT d.doc_id, d.w AS width, d.h AS height,
       |    CAST(1 + d.doc_id % 5 AS INT) AS n_frames, v.checksum
       |  FROM dims d JOIN vid v USING (doc_id)
       |)
       |SELECT doc_id, CAST(i AS INT) AS frame_idx,
       |  CAST(floor(width * least(224.0 / width, 224.0 / height)) AS INT) AS out_w,
       |  CAST(floor(height * least(224.0 / width, 224.0 / height)) AS INT) AS out_h,
       |  CAST((checksum * 31 + i) % 1000000007 AS BIGINT) AS frame_checksum
       |FROM f, range(0, 100) r(i)
       |WHERE i <= n_frames - 1 AND i % 3 = 0
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** Attribution window for the stream-stream join (6 h — sized to the
    * synthetic event density, same rationale as
    * [[AnalyticsQueries.SessionGapSec]]). */
  val AttributionWindowSec = 21600L

  /** The stream-stream event-time interval join
    * ([[graft.streaming.StreamStreamJoin.attributed]]) run TO COMPLETION
    * in-process — the sixth and last classic streaming shape, now a
    * CORRECTNESS row: clicks and views arrive as two separate in-order
    * MemoryStreams in three alternating micro-batch pairs; the join
    * buffers each side in the state store, emits on match, and its
    * event-time range condition plus both-side watermarks are what bound
    * that state to one attribution window per side at 100 TB. In-order
    * arrival means nothing is watermark-late, so the emitted set is
    * EXACTLY the batch interval join — hash-matched against the DuckDB
    * oracle. Bounded collect is the test transport (q92 convention). */
  def q105StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamRunner, StreamStreamJoin}
    import graft.streaming.StreamStreamJoin.{Click, View}
    val ev = Tables.events(s, dir)
      .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      .filter(col("event_type").isin("click", "view"))
      .as[(java.sql.Timestamp, Long, Long, String)].collect().toSeq
      .sortBy(_._1.getTime)
    val clicks = ev.collect { case (ts, u, id, "click") => Click(ts, u, id) }
    val views = ev.collect { case (ts, u, id, "view") => View(ts, u, id) }
    StreamRunner.sorted2(s, StreamRunner.slices(clicks, 3)
        .zip(StreamRunner.slices(views, 3)), Nil)(
      StreamStreamJoin.attributed(_, _, AttributionWindowSec, "6 hours"))(
      _.select(col("user_id"), col("click_id"), col("view_id"),
        col("lag_sec")), col("click_id"), col("view_id"))
  }

  /** q187 — stream-stream LEFT OUTER interval join run to completion
    * (the eleventh streaming shape): q105's attribution with outer
    * semantics, where a click with no same-user view in the window must
    * surface as a NULL-attributed row — and in streaming that row can
    * only be emitted when the WATERMARK passes clickTs + window (until
    * then a matching view could still arrive). The flush protocol is
    * therefore the interesting part: two far-future sentinel batches on
    * BOTH streams (the global watermark is the minimum across inputs)
    * advance the watermark past every real click — the first makes the
    * watermark jump, the second triggers the micro-batch whose state
    * eviction emits the null rows. The sentinels' own rows never emit
    * (nothing ever advances past them), mirroring q93's sentinel
    * convention. Emitted set ≡ the batch LEFT JOIN, hash-matched. */
  def q187StreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamRunner, StreamStreamJoin}
    import graft.streaming.StreamStreamJoin.{Click, View}
    val ev = Tables.events(s, dir)
      .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      .filter(col("event_type").isin("click", "view"))
      .as[(java.sql.Timestamp, Long, Long, String)].collect().toSeq
      .sortBy(_._1.getTime)
    val clicks = ev.collect { case (ts, u, id, "click") => Click(ts, u, id) }
    val views = ev.collect { case (ts, u, id, "view") => View(ts, u, id) }
    val maxTs = ev.last._1.getTime
    // watermark flush: two sentinel batches (jump, then evict+emit)
    val sentinels = (1 to 2).map { k =>
      val t = new java.sql.Timestamp(maxTs + 86400000L * 1000 * k)
      (Click(t, -1L, -1L), View(t, -1L, -1L))
    }
    StreamRunner.sorted2(s, StreamRunner.slices(clicks, 3)
        .zip(StreamRunner.slices(views, 3)), sentinels)(
      StreamStreamJoin.attributedLeft(_, _, AttributionWindowSec, "6 hours"))(
      _.filter(col("user_id") >= 0)
        .select(col("user_id"), col("click_id"), col("view_id"),
          col("lag_sec")), col("click_id"), col("view_id"))
  }

  val oracleQ187: String =
    s"""SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
       |  (epoch_us(c.ts) - epoch_us(v.ts)) // 1000000 AS lag_sec
       |FROM events c LEFT JOIN events v
       |  ON c.user_id = v.user_id
       |  AND v.event_type = 'view'
       |  AND v.ts <= c.ts
       |  AND v.ts >= c.ts - to_seconds(${AttributionWindowSec})
       |WHERE c.event_type = 'click'
       |ORDER BY click_id, view_id""".stripMargin

  val oracleQ105: String =
    s"""SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
       |  (epoch_us(c.ts) - epoch_us(v.ts)) // 1000000 AS lag_sec
       |FROM events c JOIN events v
       |  ON c.user_id = v.user_id
       |  AND v.ts <= c.ts
       |  AND v.ts >= c.ts - to_seconds(${AttributionWindowSec})
       |WHERE c.event_type = 'click' AND v.event_type = 'view'
       |ORDER BY click_id, view_id""".stripMargin

  /** q107 — CUBE / GROUPING SETS rollup: corpus composition report at every
    * grain of (source, lang) in one pass — the multi-grain aggregate every
    * curation dashboard wants, without running four separate groupBys.
    * `grouping_id` disambiguates a rolled-up NULL from a data NULL.
    *
    * Scale shape: Spark expands grouping sets BEFORE the shuffle (Expand →
    * partial HashAggregate → one shuffle → final HashAggregate), so the
    * four grains ride one exchange and map-side combine still applies; all
    * measures are exact integers. At 100 TB the Expand multiplies map-side
    * rows ×4, but the partial aggregate collapses them immediately —
    * cheaper than four scans of the fact table. */
  def q107CubeRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .cube(col("source"), col("lang"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("gid"), col("source"), col("lang"))
  }

  val oracleQ107: String =
    """SELECT source, lang,
      |  CAST(GROUPING(source, lang) AS BIGINT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY CUBE(source, lang)
      |ORDER BY gid, source, lang""".stripMargin

  /** q109 — Z-order layout clustering: interleave (user bucket, value
    * bucket) bits into a Morton key, assign rows to 16 file groups by the
    * key's top bits, and report each group's 2-D bounding box — the
    * zone-map rectangle a scan would prune against. Tight per-group boxes
    * are the entire value of z-ordering; a 1-D sort would leave one
    * dimension's box full-width in every file.
    *
    * The gate uses FIXED key-range boundaries (top 4 bits) so file
    * assignment is deterministic and oracle-replayable bit-for-bit; the
    * production path ([[graft.operators.ZOrder.cluster]]) range-partitions
    * on the same key with sampled boundaries (balanced files, same
    * locality) and is spec-covered instead.
    *
    * Scale shape: the z-key is a map-side codegen'd bit expression; the
    * grouping is one ordinary aggregation. The real layout write is one
    * range exchange + partitioned write — no sort-by-all-columns, no
    * driver involvement. */
  def q109ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ZOrder
    val keyed = Tables.events(s, dir).select(
      pmod(col("user_id"), lit(65536L)).as("ux"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("vb"))
    keyed
      .withColumn("zkey", ZOrder.interleave2(col("ux"), col("vb")))
      .withColumn("fg", shiftright(col("zkey"), 2 * ZOrder.Bits - 4))
      .groupBy(col("fg"))
      .agg(count(lit(1)).as("n"),
        min(col("ux")).as("min_u"), max(col("ux")).as("max_u"),
        min(col("vb")).as("min_v"), max(col("vb")).as("max_v"),
        min(col("zkey")).as("min_z"), max(col("zkey")).as("max_z"))
      .orderBy(col("fg"))
  }

  val oracleQ109: String = {
    import graft.operators.ZOrder
    val z = ZOrder.interleave2Sql("ux", "vb")
    s"""WITH keyed AS (
       |  SELECT user_id % 65536 AS ux,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vb
       |  FROM events
       |), zkeyed AS (
       |  SELECT ux, vb, $z AS zkey FROM keyed
       |)
       |SELECT zkey >> ${2 * ZOrder.Bits - 4} AS fg,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(ux) AS min_u, MAX(ux) AS max_u,
       |  MIN(vb) AS min_v, MAX(vb) AS max_v,
       |  MIN(zkey) AS min_z, MAX(zkey) AS max_z
       |FROM zkeyed GROUP BY fg ORDER BY fg""".stripMargin
  }

  /** Day splitting the standing aggregate state from the delta partition
    * in q110's incremental-maintenance replay. */
  val IncrementalCutoff = "2024-01-25"

  /** q110 — incremental aggregate maintenance: a standing per-key aggregate
    * (rows before [[IncrementalCutoff]]) absorbs the delta partition's
    * partials via [[graft.operators.Incremental.mergePartials]], and the
    * gate proves `merge(agg(old), agg(delta)) == agg(all)` bit-for-bit —
    * the oracle is the FULL recompute, the Spark side never aggregates the
    * two eras together. This is the materialized-view maintenance contract:
    * counts/sums add, mins/maxes combine, so a daily refresh touches only
    * the new partition while staying exactly equal to a full rebuild.
    * Sums are integer cents (FP rule 1) — exactness is what makes the
    * merge associative. */
  def q110IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Incremental
    val ev = Tables.events(s, dir).select(
      col("event_type"), to_date(col("ts")).as("day"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    def partials(df: DataFrame): DataFrame = df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
    val cut = to_date(lit(IncrementalCutoff))
    val state = partials(ev.filter(col("day") < cut))
    val delta = partials(ev.filter(col("day") >= cut))
    Incremental.mergePartials(state, delta, Seq("event_type"),
        addCols = Seq("n", "sum_cents"),
        minCols = Seq("min_cents"), maxCols = Seq("max_cents"))
      .orderBy(col("event_type"))
  }

  val oracleQ110: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  MIN(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS min_cents,
      |  MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q120 — declarative data-quality validation
    * ([[graft.operators.Quality.validate]]): the publish-gate contract
    * check as a first-class operator — five rules over the events stream,
    * all evaluated in ONE scan as conditional-count aggregates, reported
    * as exact violation counts + rates. A rule that cannot evaluate
    * (null predicate) counts as a violation. */
  def q120QualityReport(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    Quality.validate(Tables.events(s, dir), Seq(
        "known_event_type" -> col("event_type")
          .isin("click", "view", "purchase", "signup", "error"),
        "ts_in_range" -> (col("ts") >= to_timestamp(lit("2024-01-01")) &&
          col("ts") < to_timestamp(lit("2024-03-01"))),
        "user_present" -> col("user_id").isNotNull,
        "value_nonneg" -> (col("value") >= 0),
        "value_upper" -> (col("value") <= 500.0)))
      .orderBy(col("rule"))
  }

  val oracleQ120: String =
    """WITH t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN NOT COALESCE(
      |      event_type IN ('click','view','purchase','signup','error'),
      |      FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v0,
      |    CAST(SUM(CASE WHEN NOT COALESCE(ts >= TIMESTAMP '2024-01-01'
      |      AND ts < TIMESTAMP '2024-03-01', FALSE) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS v1,
      |    CAST(SUM(CASE WHEN NOT COALESCE(user_id IS NOT NULL, FALSE)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS v2,
      |    CAST(SUM(CASE WHEN NOT COALESCE(value >= 0, FALSE)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS v3,
      |    CAST(SUM(CASE WHEN NOT COALESCE(value <= 500.0, FALSE)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS v4
      |  FROM events
      |)
      |SELECT rule, n AS n_rows,
      |  CASE i WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
      |    WHEN 3 THEN v3 ELSE v4 END AS n_violations,
      |  CAST(CASE i WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
      |    WHEN 3 THEN v3 ELSE v4 END AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS violation_rate
      |FROM t, (VALUES ('known_event_type', 0), ('ts_in_range', 1),
      |  ('user_present', 2), ('value_nonneg', 3), ('value_upper', 4))
      |  r(rule, i)
      |ORDER BY rule""".stripMargin

  /** q119 — framewise audio feature extraction over REAL decoded WAV
    * payloads ([[graft.operators.Multimodal.wavFrameFeatures]]): energy,
    * peak, zero-crossings per 16-sample frame — the silence-trim /
    * voice-activity primitives, gated arithmetically (the oracle derives
    * every frame feature from the synthesis formula without touching a
    * byte, so a wrong chunk offset, sample order, or sign convention in
    * the decode path breaks the hash). */
  def q119WavFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavFrameFeatures(s, dir)

  val oracleQ119: String = {
    val fl = Multimodal.FrameLen
    s"""WITH d AS (
       |  SELECT doc_id, 50 + doc_id % 100 AS ns FROM documents
       |  WHERE doc_id % 2 = 1
       |), fr AS (
       |  SELECT doc_id, ns, CAST(f AS INT) AS f
       |  FROM d, range(0, 16) t(f) WHERE f < ns // $fl
       |), s AS (
       |  SELECT doc_id, f, f*$fl + k AS i,
       |    (doc_id*31 + (f*$fl + k)*17) % 65536 - 32768 AS v
       |  FROM fr, range(0, $fl) t2(k)
       |), w AS (
       |  SELECT doc_id, f, i, v,
       |    lag(v) OVER (PARTITION BY doc_id, f ORDER BY i) AS pv
       |  FROM s
       |)
       |SELECT doc_id, f AS frame_idx,
       |  CAST(SUM(v*v) AS BIGINT) AS energy,
       |  CAST(MAX(abs(v)) AS BIGINT) AS peak,
       |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
       |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
       |FROM w GROUP BY doc_id, f
       |ORDER BY doc_id, frame_idx""".stripMargin
  }

  /** q197 — MFCC-style cepstral coefficients over the q119 frames
    * ([[graft.operators.Multimodal.wavMfcc]]). The oracle derives the
    * samples from the synthesis formula (as q119 does) and replays the
    * whole DFT→mel→log→DCT pipeline with the SAME driver-computed integer
    * tables embedded as list literals, so a wrong twiddle, filter edge, or
    * quantization boundary breaks the hash. The mel bank is PER-RATE
    * ([[graft.operators.Multimodal.melWeightsForRate]] — filters on the
    * doc's own Nyquist): the oracle embeds all five planted-rate banks
    * and indexes by the synthesis rate class (doc_id mod 5), so Spark
    * reading the WRONG decoded rate picks the wrong bank and breaks the
    * hash. */
  def q197WavMfcc(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavMfcc(s, dir)

  lazy val oracleQ197: String = {
    val fl = Multimodal.FrameLen
    def ll(a: Array[Array[Long]]) =
      a.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    // the five planted sample rates: sr = 8000 + (doc_id % 5)·1000
    val banks = (0 until 5)
      .map(i => ll(Multimodal.melWeightsForRate(8000 + i * 1000)))
      .mkString("[", ", ", "]")
    s"""WITH d AS (
       |  SELECT doc_id, 50 + doc_id % 100 AS ns FROM documents
       |  WHERE doc_id % 2 = 1
       |), fr AS (
       |  SELECT doc_id, ns, CAST(f AS INT) AS f
       |  FROM d, range(0, 16) t(f) WHERE f < ns // $fl
       |), smp AS (
       |  SELECT doc_id, f, CAST(k AS INT) AS k,
       |    (doc_id*31 + (f*$fl + k)*(f*$fl + k)*17) % 65536 - 32768 AS v
       |  FROM fr, range(0, $fl) t2(k)
       |), tw AS (
       |  SELECT ${ll(Multimodal.dftCos)} AS cl,
       |         ${ll(Multimodal.dftSin)} AS sl,
       |         $banks AS wl5,
       |         ${ll(Multimodal.dctTable)} AS dl
       |), reim AS (
       |  SELECT doc_id, f, b,
       |    CAST(SUM(v * cl[b+1][k+1]) AS BIGINT) AS re,
       |    CAST(SUM(v * sl[b+1][k+1]) AS BIGINT) AS im
       |  FROM smp, (SELECT CAST(bb AS INT) AS b
       |             FROM range(0, ${Multimodal.MelBins}) tb(bb)) bins, tw
       |  GROUP BY doc_id, f, b
       |), pw AS (
       |  SELECT doc_id, f, b,
       |    CAST(floor(re / ${Multimodal.TwiddleScale}.0) AS BIGINT)
       |      * CAST(floor(re / ${Multimodal.TwiddleScale}.0) AS BIGINT)
       |    + CAST(floor(im / ${Multimodal.TwiddleScale}.0) AS BIGINT)
       |      * CAST(floor(im / ${Multimodal.TwiddleScale}.0) AS BIGINT) AS p
       |  FROM reim
       |), mel AS (
       |  SELECT doc_id, f, m,
       |    CAST(SUM(p * wl5[CAST(doc_id % 5 AS INT) + 1][m+1][b+1])
       |      AS BIGINT) AS me
       |  FROM pw, (SELECT CAST(mm AS INT) AS m
       |            FROM range(0, ${Multimodal.MelFilters}) tm(mm)) ms, tw
       |  GROUP BY doc_id, f, m
       |), lg AS (
       |  SELECT doc_id, f, m,
       |    CAST(floor(ln(1.0 + CAST(me AS DOUBLE)
       |      / ${Multimodal.MelWeightScale}.0) * 1e6 + 0.5) AS BIGINT) AS lq
       |  FROM mel
       |), dct AS (
       |  SELECT doc_id, f, c, CAST(SUM(lq * dl[c+1][m+1]) AS BIGINT) AS coef
       |  FROM lg, (SELECT CAST(cc AS INT) AS c
       |            FROM range(0, ${Multimodal.MfccCoeffs}) tc(cc)) cs, tw
       |  GROUP BY doc_id, f, c
       |)
       |SELECT doc_id, f AS frame_idx,
       |  MAX(CASE WHEN c = 0 THEN coef END) AS c0,
       |  MAX(CASE WHEN c = 1 THEN coef END) AS c1,
       |  MAX(CASE WHEN c = 2 THEN coef END) AS c2,
       |  MAX(CASE WHEN c = 3 THEN coef END) AS c3
       |FROM dct GROUP BY doc_id, f
       |ORDER BY doc_id, frame_idx""".stripMargin
  }

  /** q199 — perceptual image near-dup (pHash): the image-dedup loop the
    * multimodal tier was missing. Per doc: synthesize a REAL 24-bit BMP
    * (twin docs 2g/2g+1 render the same image, the odd twin brightened
    * by 6/255 on a sparse pixel lattice), decode it with the real
    * header-walking parser, and fingerprint the DECODED pixels with a
    * 63-bit integer DCT hash ([[graft.operators.Multimodal.pHash64]]).
    * Near-dup pairs come from the q66 SimHash discipline: 4 pigeonhole
    * bands (16/16/16/15 bits) bucket the hashes — Hamming ≤ 3 pairs MUST
    * share an exact band — then candidates verify by exact popcount.
    *
    * Scale shape: one map-side pass synthesizes/decodes/hashes (payload
    * bytes never shuffle; only 16-byte hash rows move); the band
    * self-join is keyed on (band, value) — never all-pairs — and bucket
    * sizes are content-bounded (measured max 8 at sf0.1). The oracle
    * replays resample → DCT → median-threshold → band join in exact
    * BIGINT SQL with the [[graft.operators.Multimodal.phCos]] table
    * embedded (the q197 shared-constant discipline). */
  def q199PhashPairs(s: SparkSession, dir: String): DataFrame =
    phashPairsFrom(Materialize.pin(Multimodal.phashes(s, dir)))

  /** The q199 pair algebra over a ready fingerprint relation
    * (doc_id, phash) — shared by the standalone gate and the q212
    * single-decode composition. */
  private[graft] def phashPairsFrom(hashes: DataFrame): DataFrame = {
    val bands = hashes.select(col("doc_id"), col("phash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("phash"), 16 * b).bitwiseAND(lit(65535L))): _*)))
      .toDF("doc_id", "phash", "b", "bv")
    val cand = bands.select(col("b"), col("bv"),
        col("doc_id").as("doc1"), col("phash").as("h1"))
      .join(bands.select(col("b"), col("bv"),
        col("doc_id").as("doc2"), col("phash").as("h2")), Seq("b", "bv"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"), col("h1"), col("h2"))
      .distinct()
    cand.withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= 3)
      .select(col("doc1"), col("doc2"), col("hamming"))
      .orderBy(col("doc1"), col("doc2"))
  }

  lazy val oracleQ199: String = {
    val phc = Multimodal.phCos.flatten.mkString("[", ", ", "]")
    s"""WITH tbl AS (SELECT $phc AS phc),
       |d AS (
       |  SELECT doc_id, doc_id // 2 AS g,
       |    8 * (1 + (doc_id // 2) % 4) AS w,
       |    8 * (1 + (doc_id // 2) % 3) AS h
       |  FROM documents
       |), p16 AS MATERIALIZED (
       |  SELECT doc_id, j, i,
       |    30 + (g*37 + idx*53 + (g*idx) % 251) % 180
       |      + CASE WHEN doc_id % 2 = 1 AND idx % 101 = 0 THEN 6 ELSE 0 END
       |      AS v
       |  FROM (
       |    SELECT doc_id, g, j, i, ((j*h) // 16) * w + ((i*w) // 16) AS idx
       |    FROM d, range(0,16) tj(j), range(0,16) ti(i))
       |), r AS MATERIALIZED (
       |  SELECT doc_id, u, j AS y,
       |    SUM(phc[CAST(u*16 + i AS INT) + 1] * v) AS rv
       |  FROM p16, range(0,8) tu(u), tbl
       |  GROUP BY doc_id, u, j
       |), hh AS (
       |  SELECT doc_id, u, v,
       |    CAST(SUM(phc[CAST(v*16 + y AS INT) + 1] * rv) AS BIGINT) AS coef
       |  FROM r, range(0,8) tv(v), tbl
       |  GROUP BY doc_id, u, v
       |), coefs AS MATERIALIZED (
       |  SELECT doc_id, CAST(u*8 + v - 1 AS INT) AS b, coef
       |  FROM hh WHERE NOT (u = 0 AND v = 0)
       |), med AS (
       |  SELECT doc_id, coef AS m FROM (
       |    SELECT doc_id, coef,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY coef) AS rn
       |    FROM coefs) WHERE rn = 32
       |), hash AS MATERIALIZED (
       |  SELECT c.doc_id,
       |    CAST(SUM(CASE WHEN c.coef > med.m
       |      THEN CAST(1 AS BIGINT) << c.b ELSE 0 END) AS BIGINT) AS hv
       |  FROM coefs c JOIN med ON c.doc_id = med.doc_id
       |  GROUP BY c.doc_id
       |), bands AS MATERIALIZED (
       |  SELECT doc_id, b, (hv >> CAST(16*b AS INT)) & 65535 AS bv, hv
       |  FROM hash, range(0,4) tb(b)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc1, c2.doc_id AS doc2,
       |    a.hv AS h1, c2.hv AS h2
       |  FROM bands a JOIN bands c2
       |    ON a.b = c2.b AND a.bv = c2.bv AND a.doc_id < c2.doc_id
       |)
       |SELECT doc1, doc2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(h1, h2)) <= 3
       |ORDER BY doc1, doc2""".stripMargin
  }

  /** q201 — audio constellation fingerprint matching (Wang 2003, the
    * Shazam landmark structure): every doc's audio is fingerprinted as
    * spectrogram-peak landmark hashes
    * ([[graft.operators.Multimodal.audioLandmarks]] — REAL WAV
    * encode→decode, integer DFT, peak+runner-up per frame, anchor/target
    * pairs); odd docs QUERY the even-doc database by keyed hash join,
    * votes histogram over (query, candidate, time offset), and the
    * winner is the candidate with the most temporally-consistent
    * landmark hits (ties prefer aligned offsets, then the lower doc —
    * deterministic). Every query's twin carries the same tone program
    * under small additive noise, so the expected match is (query−1, 0).
    *
    * Scale shape: fingerprints are slim integer rows (one map-side pass
    * per doc; payload bytes never shuffle); the match is a keyed join on
    * the landmark hash — never all-pairs — with content-bounded buckets
    * (measured: 3,528 distinct hashes, max bucket 22 at 5,000 docs),
    * then ONE keyed aggregation for the vote histogram. Honest caveat:
    * the 16-point DFT bounds the hash space at ~4k values, so candidate
    * volume grows ~|docs|²/4k; a production deployment uses a 1024+-bin
    * FFT (hash space ≥ 2²⁰) — same plan, finer keys. */
  def q201AudioMatch(s: SparkSession, dir: String): DataFrame =
    audioMatchFrom(Materialize.pin(Multimodal.audioLandmarks(s, dir)))

  /** The q201 match algebra over a ready landmark relation
    * (doc_id, h, frame_idx) — shared by the gate and q212. */
  private[graft] def audioMatchFrom(lms: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val db = lms.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("matched_doc"), col("h"),
        col("frame_idx").as("jd"))
    val qs = lms.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("query_doc"), col("h"),
        col("frame_idx").as("jq"))
    val votes = qs.join(db, Seq("h"))
      .groupBy(col("query_doc"), col("matched_doc"),
        (col("jq") - col("jd")).as("t_offset"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_doc"))
      .orderBy(col("votes").desc, abs(col("t_offset")), col("matched_doc"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_doc"), col("matched_doc"),
        col("t_offset"), col("votes"))
      .orderBy(col("query_doc"))
  }

  lazy val oracleQ201: String = {
    def ll(a: Array[Array[Long]]) =
      a.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val fl = Multimodal.FrameLen
    val sc = Multimodal.TwiddleScale
    s"""WITH d AS (
       |  SELECT doc_id, doc_id // 2 AS g,
       |    CAST(5 + (doc_id // 2) % 8 AS INT) AS nf
       |  FROM documents
       |), fr AS (
       |  SELECT doc_id, g, CAST(j AS INT) AS j
       |  FROM d, range(0, 13) t(j) WHERE j < nf
       |), tone AS (
       |  SELECT doc_id, g, j,
       |    CAST(1 + (g*13 + j*5 + (g*j) % 11) % 7 AS INT) AS b,
       |    CAST((g*17 + j*7 + (g*j) % 13) % 6 AS INT) AS x
       |  FROM fr
       |), tone2 AS (
       |  SELECT doc_id, j, b,
       |    CASE WHEN x + 1 < b THEN x + 1 ELSE x + 2 END AS c
       |  FROM tone
       |), smp AS MATERIALIZED (
       |  SELECT doc_id, j, CAST(k AS INT) AS k,
       |    (CASE WHEN (k*b) % $fl < ${fl / 2} THEN 6000 ELSE -6000 END)
       |    + (CASE WHEN (k*c) % $fl < ${fl / 2} THEN 3000 ELSE -3000 END)
       |    + (CASE WHEN doc_id % 2 = 1 AND (j*$fl + k) % 37 = 0
       |        THEN 200 ELSE 0 END) AS v0
       |  FROM tone2, range(0, $fl) tk(k)
       |), smpb AS (
       |  -- BIGINT carrier: INT32 sample x INT32 twiddle overflows DuckDB
       |  SELECT doc_id, j, k, CAST(v0 AS BIGINT) AS v FROM smp
       |), tw AS (
       |  SELECT ${ll(Multimodal.dftCos)} AS cl,
       |         ${ll(Multimodal.dftSin)} AS sl
       |), reim AS (
       |  SELECT doc_id, j, b,
       |    CAST(SUM(v * cl[b+1][k+1]) AS BIGINT) AS re,
       |    CAST(SUM(v * sl[b+1][k+1]) AS BIGINT) AS im
       |  FROM smpb, (SELECT CAST(bb AS INT) AS b
       |             FROM range(1, ${Multimodal.MelBins}) tb(bb)) bins, tw
       |  GROUP BY doc_id, j, b
       |), pw AS (
       |  SELECT doc_id, j, b,
       |    CAST(floor(re / $sc.0) AS BIGINT) * CAST(floor(re / $sc.0) AS BIGINT)
       |    + CAST(floor(im / $sc.0) AS BIGINT) * CAST(floor(im / $sc.0) AS BIGINT)
       |      AS p
       |  FROM reim
       |), rk AS MATERIALIZED (
       |  SELECT doc_id, j, b,
       |    row_number() OVER (PARTITION BY doc_id, j
       |      ORDER BY p DESC, b) AS rn
       |  FROM pw
       |), pk AS (
       |  SELECT doc_id, j,
       |    MAX(CASE WHEN rn = 1 THEN b END) AS b1,
       |    MAX(CASE WHEN rn = 2 THEN b END) AS s1
       |  FROM rk GROUP BY doc_id, j
       |), lm AS MATERIALIZED (
       |  SELECT a.doc_id,
       |    CAST((((a.b1*8 + a.s1)*8 + t.b1)*8 + t.s1)*2 + (t.j - a.j - 1)
       |      AS INT) AS h,
       |    a.j
       |  FROM pk a JOIN pk t
       |    ON a.doc_id = t.doc_id AND t.j - a.j BETWEEN 1 AND ${Multimodal.FpMaxDt}
       |), votes AS (
       |  SELECT q.doc_id AS query_doc, db.doc_id AS matched_doc,
       |    CAST(q.j - db.j AS INT) AS t_offset,
       |    CAST(count(*) AS BIGINT) AS votes
       |  FROM lm q JOIN lm db
       |    ON q.h = db.h AND q.doc_id % 2 = 1 AND db.doc_id % 2 = 0
       |  GROUP BY 1, 2, 3
       |), best AS (
       |  SELECT query_doc, matched_doc, t_offset, votes,
       |    row_number() OVER (PARTITION BY query_doc
       |      ORDER BY votes DESC, abs(t_offset), matched_doc) AS rn
       |  FROM votes
       |)
       |SELECT query_doc, matched_doc, t_offset, votes
       |FROM best WHERE rn = 1
       |ORDER BY query_doc""".stripMargin
  }

  /** q202 — video clipped-copy detection: per-frame perceptual hashes
    * over REAL MJPEG decode ([[graft.operators.Multimodal
    * .videoFrameHashes]] — per-frame JPEG encode, frame-walk decode,
    * [[graft.operators.Multimodal.pHash64]]), matched by exact-hash
    * join + time-offset vote histogram. The planted transformation is
    * TEMPORAL: every odd doc is its even twin clipped by one frame and
    * extended by one unseen frame, so the matcher must recover the −1
    * alignment from frame hashes alone — the Content-ID "shifted
    * excerpt" shape, completing the near-dup family across text
    * (q14-q16), images (q199), audio (q201), and video.
    *
    * Scale shape: one map-side pass per doc builds the slim (doc,
    * frame, hash) rows (payload bytes never shuffle); the match is a
    * keyed equi-join on the 63-bit hash — never all-pairs — with
    * content-bounded buckets (measured max 19 at 5,000 docs), then one
    * keyed vote aggregation. 99.4% of twins recovered at (twin, −1);
    * the residual are genuine cross-content hash coincidences the
    * deterministic tie-break resolves identically in both engines. */
  def q202VideoMatch(s: SparkSession, dir: String): DataFrame =
    videoMatchFrom(Materialize.pin(Multimodal.videoFrameHashes(s, dir)))

  /** The q202 match algebra over a ready frame-hash relation
    * (doc_id, phash, frame_idx) — shared by the gate and q212. */
  private[graft] def videoMatchFrom(fhs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val db = fhs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("matched_doc"), col("phash"),
        col("frame_idx").as("jd"))
    val qs = fhs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("query_doc"), col("phash"),
        col("frame_idx").as("jq"))
    val votes = qs.join(db, Seq("phash"))
      .groupBy(col("query_doc"), col("matched_doc"),
        (col("jq") - col("jd")).as("t_offset"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_doc"))
      .orderBy(col("votes").desc, abs(col("t_offset")), col("matched_doc"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_doc"), col("matched_doc"),
        col("t_offset"), col("votes"))
      .orderBy(col("query_doc"))
  }

  lazy val oracleQ202: String = {
    val phc = Multimodal.phCos.flatten.mkString("[", ", ", "]")
    s"""WITH tbl AS (SELECT $phc AS phc),
       |d AS (
       |  SELECT doc_id, doc_id // 2 AS g,
       |    CAST(4 + (doc_id // 2) % 5 AS INT) AS nf,
       |    CAST(32 + 8 * ((doc_id // 2) % 3) AS INT) AS w,
       |    CAST(32 + 8 * ((doc_id // 2) % 2) AS INT) AS h
       |  FROM documents
       |), fr AS (
       |  SELECT doc_id, g, w, h, CAST(j AS INT) AS j,
       |    CAST(j + doc_id % 2 AS INT) AS f
       |  FROM d, range(0, 9) t(j) WHERE j < nf
       |), p16 AS MATERIALIZED (
       |  SELECT doc_id, j, jj, ii,
       |    2 * ((g*37 + f*11 + b*53 + (g*b) % 1009 + (f*b) % 251) % 127)
       |      AS v
       |  FROM (
       |    SELECT doc_id, g, f, j, jj, ii,
       |      ((jj*h) // 16) // 8 * (w // 8) + ((ii*w) // 16) // 8 AS b
       |    FROM fr, range(0,16) tj(jj), range(0,16) ti(ii))
       |), r AS MATERIALIZED (
       |  SELECT doc_id, j, u, jj AS y,
       |    SUM(phc[CAST(u*16 + ii AS INT) + 1] * v) AS rv
       |  FROM p16, range(0,8) tu(u), tbl
       |  GROUP BY doc_id, j, u, jj
       |), hh AS (
       |  SELECT doc_id, j, u, vv,
       |    CAST(SUM(phc[CAST(vv*16 + y AS INT) + 1] * rv) AS BIGINT) AS coef
       |  FROM r, range(0,8) tv(vv), tbl
       |  GROUP BY doc_id, j, u, vv
       |), coefs AS MATERIALIZED (
       |  SELECT doc_id, j, CAST(u*8 + vv - 1 AS INT) AS b, coef
       |  FROM hh WHERE NOT (u = 0 AND vv = 0)
       |), med AS (
       |  SELECT doc_id, j, coef AS m FROM (
       |    SELECT doc_id, j, coef,
       |      row_number() OVER (PARTITION BY doc_id, j ORDER BY coef) AS rn
       |    FROM coefs) WHERE rn = 32
       |), lm AS MATERIALIZED (
       |  SELECT c.doc_id, c.j,
       |    CAST(SUM(CASE WHEN c.coef > med.m
       |      THEN CAST(1 AS BIGINT) << c.b ELSE 0 END) AS BIGINT) AS hv
       |  FROM coefs c JOIN med ON c.doc_id = med.doc_id AND c.j = med.j
       |  GROUP BY c.doc_id, c.j
       |), votes AS (
       |  SELECT q.doc_id AS query_doc, db.doc_id AS matched_doc,
       |    CAST(q.j - db.j AS INT) AS t_offset,
       |    CAST(count(*) AS BIGINT) AS votes
       |  FROM lm q JOIN lm db
       |    ON q.hv = db.hv AND q.doc_id % 2 = 1 AND db.doc_id % 2 = 0
       |  GROUP BY 1, 2, 3
       |), best AS (
       |  SELECT query_doc, matched_doc, t_offset, votes,
       |    row_number() OVER (PARTITION BY query_doc
       |      ORDER BY votes DESC, abs(t_offset), matched_doc) AS rn
       |  FROM votes
       |)
       |SELECT query_doc, matched_doc, t_offset, votes
       |FROM best WHERE rn = 1
       |ORDER BY query_doc""".stripMargin
  }

  /** q116 — STREAMING materialized-view maintenance run to completion
    * in-process (seventh streaming shape): the events stream arrives on a
    * MemoryStream in three micro-batches; `foreachBatch` merges each
    * batch's partial aggregates into the standing per-event-type state via
    * the q110 algebraic-merge operator; the final state must hash-match
    * the oracle's one-shot full aggregation — proving the maintained view
    * equals the batch recompute regardless of micro-batch boundaries.
    * The driver-side collect feeds ONLY the in-process test transport. */
  def q116StreamMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamMaintain, StreamRunner}
    import graft.streaming.StreamMaintain.Ev
    val evs = Tables.events(s, dir)
      .select(col("ts"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
      .map { case (ts, et, c) => Ev(ts, et, c) }
    val m = StreamMaintain.maintainer
    StreamRunner.foreachBatch(s, StreamRunner.slices(evs, 3))(m.absorb)
    m.current
      .select(col("eventType").as("event_type"), col("n"),
        col("sum_cents"), col("min_cents"), col("max_cents"))
      .orderBy(col("event_type"))
  }

  val oracleQ116: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  MIN(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS min_cents,
      |  MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** PageRank iterations for the q113 gate (the oracle unrolls the same
    * count as CTEs). */
  val PageRankIters = 3

  /** q113 — integer-exact PageRank over the supplier↔part co-purchase
    * graph (both directions of every distinct lineitem (suppkey, partkey)
    * pair): importance propagation on a real bipartite fact-derived graph,
    * the iterative-graph shape q61/q79's connected components don't cover
    * (value PROPAGATION, not label convergence).
    *
    * Top-100 by rank (then node) keeps the gate row count bounded while
    * still pinning the full propagation — any wrong rank anywhere shifts
    * the global top set. The cut plans as TakeOrderedAndProject (per-
    * partition top-100 heaps merged on the driver), never a global sort. */
  def q113PageRank(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PageRank
    val li = Tables.lineitem(s, dir)
      .select(concat(lit("s"), col("l_suppkey").cast("string")).as("sup"),
        concat(lit("p"), col("l_partkey").cast("string")).as("prt"))
    val edges = li.select(col("sup").as("src"), col("prt").as("dst"))
      .union(li.select(col("prt").as("src"), col("sup").as("dst")))
      .distinct()
    PageRank.run(edges, PageRankIters)
      .orderBy(col("rank").desc, col("node"))
      .limit(100)
  }

  val oracleQ113: String = {
    val s = graft.operators.PageRank.DefaultScale
    val base = s * 15L / 100L
    def iter(prev: String, cur: String): String =
      s"""c$cur AS (
         |  SELECT e.dst AS node,
         |    CAST(SUM((r.rank * 85 // 100) // d.deg) AS BIGINT) AS inr
         |  FROM edges e
         |  JOIN r$prev r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst
         |), r$cur AS (
         |  SELECT n.node, $base + COALESCE(c.inr, 0) AS rank
         |  FROM nodes n LEFT JOIN c$cur c ON n.node = c.node
         |)""".stripMargin
    s"""WITH li AS (
       |  SELECT DISTINCT 's' || l_suppkey AS sup, 'p' || l_partkey AS prt
       |  FROM lineitem
       |), edges AS (
       |  SELECT sup AS src, prt AS dst FROM li
       |  UNION
       |  SELECT prt AS src, sup AS dst FROM li
       |), deg AS (
       |  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
       |), nodes AS (
       |  SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst AS node FROM edges
       |), r0 AS (
       |  SELECT node, CAST($s AS BIGINT) AS rank FROM nodes
       |), ${iter("0", "1")}, ${iter("1", "2")}, ${iter("2", "3")}
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
       |ORDER BY rank DESC, node LIMIT 100""".stripMargin
  }

  /** q191 — TEXTRANK keyword extraction (Mihalcea & Tarau 2004): run
    * [[graft.operators.PageRank]] over the corpus-level word
    * CO-OCCURRENCE graph (adjacent-token pairs, undirected) and report
    * the top-100 words by rank — the classic unsupervised keyword /
    * keyphrase primitive, here as a COMPOSED program: the tokenization
    * is q11's, the graph build is one distinct over bigrams, and the
    * ranking reuses the exact-integer PageRank kernel (and therefore
    * q113's oracle-replay discipline verbatim).
    *
    * Guard worth keeping: Spark's `sequence(1, n)` DESCENDS when n < 1,
    * so single-token docs must be filtered before the bigram transform
    * or they explode into a reversed range. */
  def q191TextRank(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PageRank
    import graft.functions.Text
    val toks = Tables.documents(s, dir)
      .select(filter(split(Text.normalize(col("text")), " "),
        t => length(t) > 0).as("ta"))
      .filter(size(col("ta")) >= 2)
    val bg = toks.select(explode(expr(
        "transform(sequence(1, size(ta) - 1), " +
          "i -> struct(ta[i - 1] AS a, ta[i] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
    val edges = bg.select(col("a").as("src"), col("b").as("dst"))
      .union(bg.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    PageRank.run(edges, PageRankIters)
      .orderBy(col("rank").desc, col("node"))
      .limit(100)
  }

  val oracleQ191: String = {
    val s = graft.operators.PageRank.DefaultScale
    val base = s * 15L / 100L
    def iter(prev: String, cur: String): String =
      s"""c$cur AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    CAST(SUM((r.rank * 85 // 100) // d.deg) AS BIGINT) AS inr
         |  FROM edges e
         |  JOIN r$prev r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst
         |), r$cur AS MATERIALIZED (
         |  SELECT n.node, $base + COALESCE(c.inr, 0) AS rank
         |  FROM nodes n LEFT JOIN c$cur c ON n.node = c.node
         |)""".stripMargin
    s"""WITH ta AS MATERIALIZED (
       |  SELECT list_filter(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    t -> len(t) > 0) AS ts
       |  FROM documents
       |), bg AS MATERIALIZED (
       |  SELECT p.a AS a, p.b AS b FROM (
       |    SELECT unnest(list_transform(range(1, len(ts)),
       |      i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS p
       |    FROM ta WHERE len(ts) >= 2
       |  ) WHERE p.a != p.b
       |), edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM bg
       |  UNION
       |  SELECT b, a FROM bg
       |), deg AS MATERIALIZED (
       |  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
       |), nodes AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst FROM edges
       |), r0 AS MATERIALIZED (
       |  SELECT node, CAST($s AS BIGINT) AS rank FROM nodes
       |), ${iter("0", "1")}, ${iter("1", "2")}, ${iter("2", "3")}
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
       |ORDER BY rank DESC, node LIMIT 100""".stripMargin
  }

  /** q192 — KNESER-NEY smoothed bigram LM table (absolute discounting,
    * integer d = 1): the upgrade over q100's count interpolation —
    * probability mass freed by discounting observed bigrams is
    * redistributed by the CONTINUATION distribution (in how many
    * distinct contexts does w2 appear), the insight that makes KN the
    * strong classical n-gram smoother. P(w2|w1) = max(c12−d,0)/c1 +
    * d·N1+(w1·)/c1 · N1+(·w2)/N1+(··). With integer d both terms are
    * exact integer ratios, emitted on the 10⁻⁶ DIV grid — no logs, no
    * floats, both engines agree bit-exactly. Output: the top-200 LM
    * entries among bigrams seen ≥ 3 times (the table a scorer would
    * broadcast).
    *
    * Scale shape: two map-side-combined count aggregations over the
    * bigram stream, two group rollups, one broadcast scalar — the
    * n-gram-LM shape that holds at any corpus size. */
  def q192KneserNey(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val toks = Tables.documents(s, dir)
      .select(filter(split(Text.normalize(col("text")), " "),
        t => length(t) > 0).as("ta"))
      .filter(size(col("ta")) >= 2)
    val bg = toks.select(explode(expr(
        "transform(sequence(1, size(ta) - 1), " +
          "i -> struct(ta[i - 1] AS w1, ta[i] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    Materialize.withMaterialized(
      bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))) { c =>
      val left = c.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p"))
      val cont = c.groupBy(col("w2")).agg(count(lit(1)).as("ncw2"))
      val ntot = c.agg(count(lit(1)).as("ntot"))
      Materialize.pin(c.join(left, Seq("w1")).join(cont, Seq("w2"))
        .crossJoin(broadcast(ntot))
        .filter(col("c12") >= 3)
        .withColumn("prob_micro",
          expr("(c12 - 1) * 1000000 DIV c1 " +
            "+ (n1p * 1000000 * ncw2) DIV (c1 * ntot)"))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          col("n1p"), col("ncw2"), col("prob_micro"))
        .orderBy(col("prob_micro").desc, col("w1"), col("w2")).limit(200))
    }
  }

  val oracleQ192: String =
    """WITH ta AS MATERIALIZED (
      |  SELECT list_filter(string_split(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
      |    t -> len(t) > 0) AS ts
      |  FROM documents
      |), bg AS MATERIALIZED (
      |  SELECT p.w1 AS w1, p.w2 AS w2 FROM (
      |    SELECT unnest(list_transform(range(1, len(ts)),
      |      i -> struct_pack(w1 := ts[i], w2 := ts[i + 1]))) AS p
      |    FROM ta WHERE len(ts) >= 2
      |  )
      |), c AS MATERIALIZED (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM bg GROUP BY w1, w2
      |), lft AS (
      |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
      |    CAST(COUNT(*) AS BIGINT) AS n1p
      |  FROM c GROUP BY w1
      |), cont AS (
      |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncw2 FROM c GROUP BY w2
      |), ntot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS ntot FROM c
      |)
      |SELECT c.w1, c.w2, c.c12, l.c1, l.n1p, ct.ncw2,
      |  (c.c12 - 1) * 1000000 // l.c1
      |    + (l.n1p * 1000000 * ct.ncw2) // (l.c1 * n.ntot) AS prob_micro
      |FROM c JOIN lft l USING (w1) JOIN cont ct USING (w2)
      |CROSS JOIN ntot n
      |WHERE c.c12 >= 3
      |ORDER BY prob_micro DESC, c.w1, c.w2 LIMIT 200""".stripMargin

  /** Minimum pair support for q193 (orders containing both items).
    * 2 fits the synthetic basket density: repeat co-purchases get RARER
    * as SF grows (more parts dilute pairs — max support is 3 at sf0.1),
    * so a higher floor would empty the gate at scale. */
  val RuleMinSup = 2L

  /** q193 — ASSOCIATION RULES (frequent-itemset mining, the
    * market-basket family): co-occurrence counts over order baskets →
    * directed rules a→b with SUPPORT (orders with both), CONFIDENCE
    * (support / orders with a) and LIFT (confidence / baseline rate of
    * b) — the classical a-priori output, here for frequent PAIRS (the
    * level the q146 degree-bounded pair join already handles at scale).
    * Top-200 rules by lift among pairs with support ≥ [[RuleMinSup]].
    * All ratios are exact integers on the 10⁻⁶ DIV grid.
    *
    * Scale shape: identical to q146's co-purchase build (distinct
    * (order, item), per-order pair join bounded by basket size), plus
    * two dim-sized rollups and a broadcast scalar. */
  def q193AssociationRules(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    Materialize.withMaterialized(li) { l =>
      val pairs = l.select(col("ok"), col("p").as("pa"))
        .join(l.select(col("ok"), col("p").as("pb")), Seq("ok"))
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= RuleMinSup)
      val items = l.groupBy(col("p")).agg(count(lit(1)).as("c"))
      val n = l.select(col("ok")).distinct().agg(count(lit(1)).as("n"))
      // both rule directions from each unordered pair
      val directed = pairs.select(col("pa").as("a"), col("pb").as("b"), col("c12"))
        .unionByName(pairs.select(col("pb").as("a"), col("pa").as("b"), col("c12")))
      Materialize.pin(directed
        .join(items.select(col("p").as("a"), col("c").as("ca")), Seq("a"))
        .join(items.select(col("p").as("b"), col("c").as("cb")), Seq("b"))
        .crossJoin(broadcast(n))
        .select(col("a"), col("b"), col("c12").as("support"),
          expr("c12 * 1000000 DIV ca").as("conf_micro"),
          expr("(c12 * n * 1000000) DIV (ca * cb)").as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("a"), col("b")).limit(200))
    }
  }

  val oracleQ193: String =
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |), pairs AS MATERIALIZED (
       |  SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
       |  GROUP BY a.p, b.p
       |  HAVING COUNT(*) >= $RuleMinSup
       |), items AS (
       |  SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY p
       |), n AS (
       |  SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM li
       |), directed AS (
       |  SELECT pa AS a, pb AS b, c12 FROM pairs
       |  UNION ALL
       |  SELECT pb, pa, c12 FROM pairs
       |)
       |SELECT d.a, d.b, d.c12 AS support,
       |  d.c12 * 1000000 // ia.c AS conf_micro,
       |  (d.c12 * n.n * 1000000) // (ia.c * ib.c) AS lift_micro
       |FROM directed d
       |JOIN items ia ON ia.p = d.a
       |JOIN items ib ON ib.p = d.b
       |CROSS JOIN n
       |ORDER BY lift_micro DESC, d.a, d.b LIMIT 200""".stripMargin

  /** Seed selector modulus for q168 (parts with partkey ≡ 0 mod 97). */
  val PprSeedMod = 97L

  /** q168 — PERSONALIZED PageRank ([[graft.operators.PageRank.runPersonalized]])
    * over the supplier↔part graph: teleport mass pinned to a deterministic
    * ~1% part seed set, ranks = graph proximity to the seeds — the
    * "expand from trusted examples" selection primitive, and the seeded
    * counterpart of q113's global PageRank. Top-100 by (rank, node)
    * plans as TakeOrderedAndProject. */
  def q168PersonalizedPr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PageRank
    val li = Tables.lineitem(s, dir)
      .select(concat(lit("s"), col("l_suppkey").cast("string")).as("sup"),
        concat(lit("p"), col("l_partkey").cast("string")).as("prt"),
        col("l_partkey"))
    val edges = li.select(col("sup").as("src"), col("prt").as("dst"))
      .union(li.select(col("prt").as("src"), col("sup").as("dst")))
      .distinct()
    val seeds = li.filter(col("l_partkey") % PprSeedMod === 0)
      .select(col("prt").as("node")).distinct()
    PageRank.runPersonalized(edges, seeds, PageRankIters)
      .orderBy(col("rank").desc, col("node"))
      .limit(100)
  }

  val oracleQ168: String = {
    val s = graft.operators.PageRank.DefaultScale
    def iter(prev: String, cur: String): String =
      s"""c$cur AS (
         |  SELECT e.dst AS node,
         |    CAST(SUM((r.rank * 85 // 100) // d.deg) AS BIGINT) AS inr
         |  FROM edges e
         |  JOIN r$prev r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst
         |), r$cur AS (
         |  SELECT n.node,
         |    CAST(CASE WHEN n.is_seed
         |      THEN (15 * n.n * $s) // (100 * n.ns) ELSE 0 END
         |      + COALESCE(c.inr, 0) AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN c$cur c ON n.node = c.node
         |)""".stripMargin
    s"""WITH li AS (
       |  SELECT DISTINCT 's' || l_suppkey AS sup, 'p' || l_partkey AS prt,
       |    l_partkey
       |  FROM lineitem
       |), edges AS (
       |  SELECT sup AS src, prt AS dst FROM li
       |  UNION
       |  SELECT prt AS src, sup AS dst FROM li
       |), deg AS (
       |  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
       |), seeds AS (
       |  SELECT DISTINCT prt AS node FROM li WHERE l_partkey % $PprSeedMod = 0
       |), nodes0 AS (
       |  SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst AS node FROM edges
       |), nodes AS (
       |  SELECT n.node, s.node IS NOT NULL AS is_seed,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes0) AS n,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM seeds) AS ns
       |  FROM nodes0 n LEFT JOIN seeds s ON s.node = n.node
       |), r0 AS (
       |  SELECT node, CAST(CASE WHEN is_seed
       |    THEN (n * $s) // ns ELSE 0 END AS BIGINT) AS rank
       |  FROM nodes
       |), ${iter("0", "1")}, ${iter("1", "2")}, ${iter("2", "3")}
       |SELECT r.node, n.is_seed, r.rank FROM r3 r
       |JOIN nodes n ON n.node = r.node
       |ORDER BY r.rank DESC, r.node LIMIT 100""".stripMargin
  }

  /** q146 — per-node TRIANGLE counts over the part co-purchase graph
    * (parts linked iff they appear in the same order): the local-clustering
    * statistic graph curators use to separate organic neighborhoods from
    * crawl/bot cliques, and the third graph shape alongside q61/q79's
    * component labeling (reachability) and q113's PageRank (propagation) —
    * triangles are a strictly LOCAL subgraph count.
    *
    * Scale shape: [[graft.operators.Triangles.perNode]] — degree-ordered
    * orientation bounds wedge work at O(m^{3/2}) on any topology (hub
    * out-degree ≤ O(√m) under the orientation), the fix for the "curse of
    * the last reducer". The top-100 cut plans as TakeOrderedAndProject.
    *
    * The oracle enumerates the same triangles id-ordered (u<v<w triple
    * join) — orientation changes the plan, not the set. */
  def q146Triangles(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Triangles
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val edges = li.select(col("ok"), col("p").as("pa"))
      .join(li.select(col("ok"), col("p").as("pb")), Seq("ok"))
      .filter(col("pa") < col("pb"))
      .select(col("pa").as("u"), col("pb").as("v"))
      .distinct()
    Triangles.perNode(edges)
      .orderBy(col("n_tri").desc, col("node"))
      .limit(100)
  }

  /** q165 — gzip text-column roundtrip ([[Multimodal.gzipRoundtrip]]):
    * real DEFLATE over the actual corpus; md5 + byte equality of the
    * decompressed payload against the source pins the codec. */
  def q165GzipRoundtrip(s: SparkSession, dir: String): DataFrame =
    Multimodal.gzipRoundtrip(s, dir)

  val oracleQ165: String =
    """SELECT doc_id,
      |  CAST(strlen(text) AS BIGINT) AS n_raw,
      |  md5(text) AS rt_md5, TRUE AS roundtrip_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Patch edge for q158's ViT grid. */
  val VitPatch = 4

  /** q158 — ViT-style PATCH extraction through the REAL BMP decode path
    * ([[Multimodal.decodeBmpPatches]]): per-doc images decode into a
    * [[VitPatch]]×[[VitPatch]] logical top-down patch grid with exact
    * per-patch channel sums and ragged partial edges — the
    * tokenize-an-image preprocessing step every vision-language data
    * pipeline runs before embedding. Strictly stronger than q78's total
    * sum: a decoder that ignores BMP's bottom-up row order mirrors the
    * grid vertically and breaks most patch sums while leaving the total
    * intact. The oracle re-derives every patch sum arithmetically from
    * the synthesis formula (pixel i = (id·7+i) mod 256). */
  def q158VitPatches(s: SparkSession, dir: String): DataFrame =
    Multimodal.vitPatches(s, dir, VitPatch)

  val oracleQ158: String =
    s"""WITH bmp AS (
       |  SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS w,
       |    CAST(3 + doc_id % 7 AS INT) AS h
       |  FROM documents WHERE doc_id % 2 = 0
       |), px AS (
       |  SELECT doc_id, w, h, unnest(range(0, w*h*3)) AS i FROM bmp
       |), cells AS (
       |  SELECT doc_id,
       |    CAST((i // (3*w)) // $VitPatch AS INT) AS patch_y,
       |    CAST(((i // 3) % w) // $VitPatch AS INT) AS patch_x,
       |    (doc_id*7 + i) % 256 AS v
       |  FROM px
       |)
       |SELECT doc_id, patch_y, patch_x,
       |  CAST(COUNT(*) // 3 AS BIGINT) AS n_px,
       |  CAST(SUM(v) AS BIGINT) AS psum
       |FROM cells GROUP BY doc_id, patch_y, patch_x
       |ORDER BY doc_id, patch_y, patch_x""".stripMargin

  /** q182 — REAL baseline JPEG decode ([[graft.operators.Jpeg]]): flat
    * even-valued 8×8 blocks make the lossy DCT pipeline exactly
    * predictable (DC quant step 16 + even level-shifted values roundtrip
    * bit-exactly), so the oracle derives the decoded pixel statistics
    * arithmetically from doc_id. Retires the last declared codec stub:
    * Huffman tables, DPCM DC coding, EOB/byte-stuffing, dequantization
    * and IDCT scaling are all on the hash path. */
  def q182JpegDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.jpegDecodeStats(s, dir)

  val oracleQ182: String =
    """WITH dims AS (
      |  SELECT doc_id,
      |    CAST(8 * (1 + doc_id % 4) AS INT) AS w,
      |    CAST(8 * (1 + doc_id % 3) AS INT) AS h
      |  FROM documents
      |), blocks AS (
      |  SELECT doc_id, w, h, unnest(range(0, (w // 8) * (h // 8))) AS b
      |  FROM dims
      |)
      |SELECT doc_id, w AS width, h AS height,
      |  CAST((w // 8) * (h // 8) AS INT) AS n_blocks,
      |  CAST(SUM(64 * (2 * ((doc_id * 37 + b * 53) % 128))) AS BIGINT)
      |    AS content_sum,
      |  CAST(2 * ((doc_id * 37) % 128) AS INT) AS corner_px
      |FROM blocks GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin

  /** Fellegi–Sunter parameters for q184, quantized ONCE here and shared
    * verbatim by the Spark plan and the oracle SQL (driver-side
    * constants, so both engines classify with identical integers). */
  private val WNameA = graft.operators.RecordLinkage.weight(0.95, 0.001)
  private val WNameD = graft.operators.RecordLinkage.weight(0.05, 0.999)
  private val WNatA = graft.operators.RecordLinkage.weight(0.95, 0.04)
  private val WNatD = graft.operators.RecordLinkage.weight(0.05, 0.96)
  private val WBalA = graft.operators.RecordLinkage.weight(0.99, 0.001)
  private val WBalD = graft.operators.RecordLinkage.weight(0.01, 0.999)
  private val WSegA = graft.operators.RecordLinkage.weight(0.9, 0.2)
  private val WSegD = graft.operators.RecordLinkage.weight(0.1, 0.8)
  private val MatchT = 15000000L

  /** q184 — Fellegi–Sunter RECORD LINKAGE ([[graft.operators
    * .RecordLinkage]]): link the customer master against a synthesized
    * second system whose records carry deterministic data-entry damage
    * (leading-char typo for key%7, nation recode for %11, cents dropped
    * for %5, segment lost for %13). Blocking on the name's last three
    * digits bounds candidates (~no cross join ever exists); the typo is
    * injected at the FIRST character so typo'd true pairs stay in-block
    * and land in the clerical-review ("possible") zone, while
    * nation-recoded pairs still clear the match threshold — the FS
    * decision structure, not just a similarity cutoff. Chance in-block
    * pairs score deeply negative and are filtered as non-matches.
    *
    * Scale shape: one map-side blocking key each side, one equi-join
    * whose fan-in is the block size, pure per-pair projection after —
    * the standard production linkage shape (salt skewed blocks like any
    * skewed join key). */
  def q184RecordLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RecordLinkage
    import graft.operators.RecordLinkage.Field
    val cust = Tables.customer(s, dir)
    val a = cust.select(col("c_custkey").as("a_id"), col("c_name").as("a_name"),
      col("c_nationkey").as("a_nation"), col("c_acctbal").as("a_bal"),
      col("c_mktsegment").as("a_seg"))
    val b = cust.select(
      (col("c_custkey") + lit(1000000L)).as("b_id"),
      when(col("c_custkey") % 7 === 0,
        concat(lit("K"), expr("substring(c_name, 2)")))
        .otherwise(col("c_name")).as("b_name"),
      when(col("c_custkey") % 11 === 0, (col("c_nationkey") + 1) % 25)
        .otherwise(col("c_nationkey")).as("b_nation"),
      when(col("c_custkey") % 5 === 0, floor(col("c_acctbal")).cast("double"))
        .otherwise(col("c_acctbal")).as("b_bal"),
      when(col("c_custkey") % 13 === 0, lit("UNKNOWN"))
        .otherwise(col("c_mktsegment")).as("b_seg"))
    val cand = a.withColumn("blk", expr("right(a_name, 3)"))
      .join(b.withColumn("blk", expr("right(b_name, 3)")), Seq("blk"))
      .withColumn("f_name", col("a_name") === col("b_name"))
      .withColumn("f_nation", col("a_nation") === col("b_nation"))
      .withColumn("f_bal", abs(col("a_bal") - col("b_bal")) <= 1.0)
      .withColumn("f_seg", col("a_seg") === col("b_seg"))
    RecordLinkage.score(cand, Seq(
        Field("f_name", WNameA, WNameD), Field("f_nation", WNatA, WNatD),
        Field("f_bal", WBalA, WBalD), Field("f_seg", WSegA, WSegD)),
        matchT = MatchT, possibleT = 0L)
      .filter(col("decision") =!= "non_match")
      .select(col("a_id"), col("b_id"), col("score_q"), col("decision"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val oracleQ184: String =
    s"""WITH a AS (
       |  SELECT c_custkey AS a_id, c_name AS a_name, c_nationkey AS a_nation,
       |    c_acctbal AS a_bal, c_mktsegment AS a_seg
       |  FROM customer
       |), b AS (
       |  SELECT c_custkey + 1000000 AS b_id,
       |    CASE WHEN c_custkey % 7 = 0 THEN 'K' || substr(c_name, 2)
       |      ELSE c_name END AS b_name,
       |    CASE WHEN c_custkey % 11 = 0
       |      THEN CAST((c_nationkey + 1) % 25 AS INTEGER)
       |      ELSE c_nationkey END AS b_nation,
       |    CASE WHEN c_custkey % 5 = 0 THEN floor(c_acctbal)
       |      ELSE c_acctbal END AS b_bal,
       |    CASE WHEN c_custkey % 13 = 0 THEN 'UNKNOWN'
       |      ELSE c_mktsegment END AS b_seg
       |  FROM customer
       |), scored AS (
       |  SELECT a_id, b_id,
       |    CAST(CASE WHEN a_name = b_name THEN $WNameA ELSE $WNameD END
       |       + CASE WHEN a_nation = b_nation THEN $WNatA ELSE $WNatD END
       |       + CASE WHEN abs(a_bal - b_bal) <= 1.0 THEN $WBalA ELSE $WBalD END
       |       + CASE WHEN a_seg = b_seg THEN $WSegA ELSE $WSegD END
       |      AS BIGINT) AS score_q
       |  FROM a JOIN b ON right(a_name, 3) = right(b_name, 3)
       |)
       |SELECT a_id, b_id, score_q,
       |  CASE WHEN score_q >= $MatchT THEN 'match'
       |       ELSE 'possible' END AS decision
       |FROM scored WHERE score_q >= 0
       |ORDER BY a_id, b_id""".stripMargin

  /** q185 — LEAKAGE-SAFE train/val/test split: assign documents to
    * splits by hashing the content FINGERPRINT (md5 of normalized text)
    * instead of the document id, so exact duplicates can never straddle
    * train and eval — the split-level guarantee decontamination (q68)
    * assumes. The gate also computes `leaked_naive`: how many duplicate
    * groups the id-hashed split would have scattered across splits —
    * the number this operator exists to drive to zero (the fingerprint
    * split is leak-free BY CONSTRUCTION since split is a function of
    * fp). The synthetic corpus's duplicates are NEAR-dups (distinct
    * fingerprints), so the gate INJECTS exact duplicates
    * deterministically in both engines (doc_id ≡ 0 mod 4 → a verbatim
    * copy at doc_id + 1M, the q159 injection technique): with
    * ~10%-sized splits, ~a third of those 2-doc groups straddle splits
    * under the naive id-hash, so leaked_naive lands well above zero
    * while the fingerprint split holds it at zero.
    *
    * Scale shape: two map-side hash projections, one groupBy(fp) for
    * the leak audit, one groupBy(split) rollup (3 groups), the audit
    * scalar broadcast back — no shuffle carries document text. */
  def q185LeakSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val base = Tables.documents(s, dir)
    val injected = base.unionByName(
      base.filter(col("doc_id") % 4 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    val d = injected
      .select(col("doc_id"),
        Text.fingerprint(col("text")).as("fp"),
        Text.tokenCount(col("text")).cast("long").as("nt"))
      .withColumn("hs", pmod(Text.hash60(col("fp")), lit(10L)))
      .withColumn("hn", pmod(Text.hash60(col("doc_id").cast("string")), lit(10L)))
      .withColumn("split", when(col("hs") < 8, lit("train"))
        .when(col("hs") === 8, lit("val")).otherwise(lit("test")))
      .withColumn("naive_split", when(col("hn") < 8, lit("train"))
        .when(col("hn") === 8, lit("val")).otherwise(lit("test")))
    Materialize.withMaterialized(d) { dd =>
      val leaked = dd.groupBy(col("fp"))
        .agg(count_distinct(col("naive_split")).as("k"))
        .agg(sum(when(col("k") > 1, 1L).otherwise(0L)).as("leaked_naive"))
      Materialize.pin(dd.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("fp")).as("n_groups"),
          sum(col("nt")).as("n_tokens"))
        .crossJoin(broadcast(leaked))
        .withColumn("dup_docs", col("n_docs") - col("n_groups"))
        .select(col("split"), col("n_docs"), col("n_groups"),
          col("dup_docs"), col("n_tokens"), col("leaked_naive")))
        .orderBy(col("split"))
    }
  }

  val oracleQ185: String =
    """WITH inj AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0
      |), d AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS nt
      |  FROM inj
      |), sp AS (
      |  SELECT doc_id, fp, nt,
      |    CAST('0x' || substr(md5(fp), 1, 15) AS BIGINT) % 10 AS hs,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      % 10 AS hn
      |  FROM d
      |), lab AS (
      |  SELECT fp, nt,
      |    CASE WHEN hs < 8 THEN 'train' WHEN hs = 8 THEN 'val'
      |      ELSE 'test' END AS split,
      |    CASE WHEN hn < 8 THEN 'train' WHEN hn = 8 THEN 'val'
      |      ELSE 'test' END AS naive_split
      |  FROM sp
      |), leak AS (
      |  SELECT CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS leaked_naive
      |  FROM (SELECT fp, COUNT(DISTINCT naive_split) AS k
      |        FROM lab GROUP BY fp)
      |)
      |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups,
      |  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS dup_docs,
      |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |  (SELECT leaked_naive FROM leak) AS leaked_naive
      |FROM lab GROUP BY split ORDER BY split""".stripMargin

  /** q186 Poisson-bootstrap parameters: B replicates; per-(doc, rep)
    * weight k ~ Poisson(1) drawn by inverse-CDF on the 60-bit hash of
    * "doc_id:rep" — cumulative thresholds floor(cdf·2⁶⁰) computed ONCE
    * here and shared verbatim with the oracle, so the "random" draws
    * are identical integers on both engines. */
  val BootReps = 50
  private val PoisCdf: Seq[Long] = {
    val e1 = math.exp(-1.0)
    val pmf = Seq(1.0, 1.0, 0.5, 1.0 / 6, 1.0 / 24).map(_ * e1)
    pmf.scanLeft(0.0)(_ + _).tail // cdf for k = 0..4; k = 5 is the cap
      .map(c => math.floor(c * 1152921504606846976.0).toLong)
  }

  /** q186 — POISSON BOOTSTRAP confidence intervals for per-source mean
    * document length: the distributed bootstrap (Chamandy et al.,
    * Google 2012) — instead of resampling n-out-of-n (which needs
    * global coordination), each row draws an independent Poisson(1)
    * replication weight per replicate, so the whole resample is one
    * map-side projection and the replicate statistics are ordinary
    * map-side-combined aggregates. Report the exact-integer point
    * estimate and the order-statistic 90% CI over [[BootReps]]
    * replicate means.
    *
    * Determinism: weights come from inverse-CDF lookup of hash60 against
    * [[PoisCdf]] (exact integer thresholds), replicate means are
    * (Σk·nt)·10⁶ DIV Σk in BIGINT (operands positive, so Spark's
    * truncating div ≡ DuckDB's flooring //), and the CI bounds are exact
    * order statistics (ranks 3 and 48 of 50) — no floating accumulation
    * anywhere.
    *
    * Scale shape: explode(B) is map-side row multiplication; per
    * (source, rep) partials combine map-side; the rank window fans in
    * B rows per source. At 100 TB this is THE bootstrap that works:
    * no global resample, no per-replicate pass. */
  def q186BootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir).select(col("source"),
      col("doc_id"), Text.tokenCount(col("text")).cast("long").as("nt"))
    val k = {
      val u = col("u")
      PoisCdf.zipWithIndex.foldLeft(when(u < PoisCdf.head, 0L)) {
        case (acc, (t, i)) => if (i == 0) acc else acc.when(u < t, i.toLong)
      }.otherwise(lit(5L))
    }
    val repMeans = base
      .withColumn("r", explode(sequence(lit(0), lit(BootReps - 1))))
      .withColumn("u", Text.hash60(
        concat(col("doc_id").cast("string"), lit(":"), col("r").cast("string"))))
      .withColumn("k", k)
      .groupBy(col("source"), col("r"))
      .agg(sum(col("k") * col("nt")).as("skn"), sum(col("k")).as("sk"))
      .filter(col("sk") > 0)
      .withColumn("m", expr("skn * 1000000 DIV sk"))
    val w = Window.partitionBy(col("source")).orderBy(col("m"), col("r"))
    val ci = repMeans.withColumn("rk", row_number().over(w))
      .groupBy(col("source"))
      .agg(max(when(col("rk") === 3, col("m"))).as("lo_micro"),
        max(when(col("rk") === 48, col("m"))).as("hi_micro"))
    base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(nt) * 1000000 DIV count(1)").as("mean_micro"))
      .join(ci, Seq("source"))
      .orderBy(col("source"))
  }

  val oracleQ186: String = {
    val caseK = PoisCdf.zipWithIndex
      .map { case (t, i) => s"WHEN u < $t THEN $i" }
      .mkString(" ")
    s"""WITH base AS (
       |  SELECT source, doc_id,
       |    CAST(len(regexp_extract_all(text, '\\w+')) AS BIGINT) AS nt
       |  FROM documents
       |), drawn AS (
       |  SELECT source, r,
       |    CAST(CASE $caseK ELSE 5 END AS BIGINT) AS k, nt
       |  FROM (
       |    SELECT b.source, b.nt, r.r,
       |      CAST('0x' || substr(md5(CAST(b.doc_id AS VARCHAR) || ':'
       |        || CAST(r.r AS VARCHAR)), 1, 15) AS BIGINT) AS u
       |    FROM base b, range(0, $BootReps) r(r)
       |  )
       |), rm AS (
       |  SELECT source, r,
       |    CAST(SUM(k * nt) AS BIGINT) * 1000000
       |      // CAST(SUM(k) AS BIGINT) AS m
       |  FROM drawn GROUP BY source, r
       |  HAVING SUM(k) > 0
       |), rk AS (
       |  SELECT source, m,
       |    row_number() OVER (PARTITION BY source ORDER BY m, r) AS rk
       |  FROM rm
       |), ci AS (
       |  SELECT source,
       |    MAX(CASE WHEN rk = 3 THEN m END) AS lo_micro,
       |    MAX(CASE WHEN rk = 48 THEN m END) AS hi_micro
       |  FROM rk GROUP BY source
       |)
       |SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(b.nt) AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT)
       |    AS mean_micro,
       |  ci.lo_micro, ci.hi_micro
       |FROM base b JOIN ci ON ci.source = b.source
       |GROUP BY b.source, ci.lo_micro, ci.hi_micro
       |ORDER BY b.source""".stripMargin
  }

  /** q188 — SPLIT-CONFORMAL prediction intervals + coverage audit: the
    * distribution-free way to turn ANY point predictor into calibrated
    * intervals (Vovk; Lei et al.) — here a fixed chars/5 token-count
    * predictor per source. Calibration docs (hash-split) yield the
    * nonconformity scores |y − ŷ|; the threshold q̂ is the EXACT
    * ⌈(n_cal+1)(1−α)⌉-th smallest score (α = 0.1), and the held-out
    * docs audit empirical coverage against the 90% guarantee. Everything
    * is integer arithmetic: integer predictor, integer nonconformity,
    * order-statistic threshold by rank, coverage as micro-units DIV.
    *
    * Scale shape: one map-side split+score projection, one per-source
    * rank window over calibration rows (fan-in = calibration count per
    * source), one broadcast-back of the 1-row-per-source thresholds. */
  def q188ConformalCi(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("nt"),
        col("n_chars"))
      .withColumn("pred", expr("n_chars DIV 5"))
      .withColumn("score", abs(col("nt") - col("pred")))
      .withColumn("is_cal",
        pmod(Text.hash60(col("doc_id").cast("string")), lit(2L)) === 0)
    Materialize.withMaterialized(d) { dd =>
      val cal = dd.filter(col("is_cal"))
      val nCal = cal.groupBy(col("source")).agg(count(lit(1)).as("n_cal"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("score"), col("doc_id"))
      val qhat = cal.withColumn("rk", row_number().over(w))
        .join(nCal, Seq("source"))
        // rank = ceil(0.9 * (n_cal + 1)), pure integer
        .filter(col("rk") === expr("(9 * (n_cal + 1) + 9) DIV 10"))
        .select(col("source"), col("n_cal"), col("score").as("qhat"))
      Materialize.pin(dd.filter(!col("is_cal"))
        .join(broadcast(qhat), Seq("source"))
        .groupBy(col("source"), col("n_cal"), col("qhat"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("score") <= col("qhat"), 1L).otherwise(0L))
            .as("n_covered"))
        .withColumn("coverage_micro",
          expr("n_covered * 1000000 DIV n_test"))
        .select(col("source"), col("n_cal"), col("qhat"), col("n_test"),
          col("n_covered"), col("coverage_micro")))
        .orderBy(col("source"))
    }
  }

  val oracleQ188: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS nt,
      |    n_chars,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |      AS BIGINT) % 2 = 0 AS is_cal
      |  FROM documents
      |), sc AS (
      |  SELECT source, doc_id, is_cal,
      |    abs(nt - n_chars // 5) AS score
      |  FROM d
      |), ncal AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_cal
      |  FROM sc WHERE is_cal GROUP BY source
      |), ranked AS (
      |  SELECT source, score,
      |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id)
      |      AS rk
      |  FROM sc WHERE is_cal
      |), qhat AS (
      |  SELECT r.source, n.n_cal, CAST(r.score AS BIGINT) AS qhat
      |  FROM ranked r JOIN ncal n USING (source)
      |  WHERE r.rk = (9 * (n.n_cal + 1) + 9) // 10
      |)
      |SELECT t.source, q.n_cal, q.qhat,
      |  CAST(COUNT(*) AS BIGINT) AS n_test,
      |  CAST(SUM(CASE WHEN t.score <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_covered,
      |  CAST(SUM(CASE WHEN t.score <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 // CAST(COUNT(*) AS BIGINT) AS coverage_micro
      |FROM sc t JOIN qhat q ON q.source = t.source
      |WHERE NOT t.is_cal
      |GROUP BY t.source, q.n_cal, q.qhat
      |ORDER BY t.source""".stripMargin

  /** q189 — OUT-OF-FOLD TARGET ENCODING of a categorical key: replace
    * supplier with the mean order value its OTHER folds observed — the
    * leakage-free form of mean encoding (an in-fold mean leaks the
    * row's own target into its feature; the K-fold exclusion is the
    * entire point, same leakage discipline as q185's split). Emits the
    * encoding TABLE (cat × fold → n_in, n_out, enc_milli) — the
    * broadcast artifact a trainer applies — not the encoded fact rows.
    *
    * Exactness: targets quantize to integer cents (the parquet doubles
    * carry 2-decimal values exactly), fold membership is hash-derived,
    * and the out-of-fold mean is (Σall − Σfold)·1000 DIV (n_all −
    * n_fold) in BIGINT — one two-level aggregation, no per-fold passes.
    *
    * Scale shape: one (cat, fold) map-side-combined aggregation, one
    * cat rollup, one join back on cat — K never multiplies the scan. */
  def q189TargetEncode(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val li = Tables.lineitem(s, dir).select(
      col("l_suppkey").as("cat"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("cents"),
      pmod(Text.hash60(concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"))), lit(5L)).as("fold"))
    val per = li.groupBy(col("cat"), col("fold"))
      .agg(count(lit(1)).as("n_f"), sum(col("cents")).as("s_f"))
    val all = per.groupBy(col("cat"))
      .agg(sum(col("n_f")).as("n_all"), sum(col("s_f")).as("s_all"))
    per.join(all, Seq("cat"))
      .select(col("cat"), col("fold"), col("n_f").as("n_in"),
        (col("n_all") - col("n_f")).as("n_out"),
        expr("(s_all - s_f) * 1000 DIV (n_all - n_f)").as("enc_milli"))
      .orderBy(col("cat"), col("fold"))
  }

  val oracleQ189: String =
    """WITH li AS (
      |  SELECT l_suppkey AS cat,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
      |      || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) % 5
      |      AS fold
      |  FROM lineitem
      |), per AS (
      |  SELECT cat, fold, CAST(COUNT(*) AS BIGINT) AS n_f,
      |    CAST(SUM(cents) AS BIGINT) AS s_f
      |  FROM li GROUP BY cat, fold
      |), allc AS (
      |  SELECT cat, CAST(SUM(n_f) AS BIGINT) AS n_all,
      |    CAST(SUM(s_f) AS BIGINT) AS s_all
      |  FROM per GROUP BY cat
      |)
      |SELECT p.cat, p.fold, p.n_f AS n_in,
      |  a.n_all - p.n_f AS n_out,
      |  (a.s_all - p.s_f) * 1000 // (a.n_all - p.n_f) AS enc_milli
      |FROM per p JOIN allc a USING (cat)
      |ORDER BY p.cat, p.fold""".stripMargin

  /** q190 — ISOTONIC CALIBRATION (monotone regression) of a score→label
    * curve via the exact MINIMAX representation of the PAV solution:
    * fit(i) = max_{j≤i} min_{k≥i} mean(y[j..k]). Computing the closed
    * form instead of the sequential pool-adjacent-violators loop turns
    * calibration into three set-oriented steps — prefix sums over the
    * (bounded) bucket table, all-interval means, a two-level min/max —
    * with NO iteration, which is exactly the reformulation that
    * distributes (B buckets → B³/2 tiny rows, B≤50 here; the fact scan
    * contributes only the per-bucket partials).
    *
    * Labels are synthesized deterministically in both engines (hash
    * threshold increasing with the score bucket → a monotone trend with
    * hash noise), interval means live on the 10⁻⁶ DIV grid, and the
    * min/max runs over those quantized integers — so the fit is exact
    * and the monotonicity of the output is a theorem, not a tolerance.
    * Output per bucket: n, raw label rate, isotonic rate. */
  def q190IsotonicFit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(least(floor(Text.tokenCount(col("text")) / 20).cast("long"),
        lit(49L)).as("b"),
        when(pmod(Text.hash60(col("doc_id").cast("string")), lit(1000L)) <
          lit(100L) + least(floor(Text.tokenCount(col("text")) / 20)
            .cast("long"), lit(49L)) * 15L, 1L).otherwise(0L).as("y"))
    val buckets = d.groupBy(col("b"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    Materialize.withMaterialized(buckets) { bk =>
      val w = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pref = bk.select(col("b"), col("n"), col("sy"),
        sum(col("n")).over(w).as("pn"), sum(col("sy")).over(w).as("py"))
      // all intervals [j..k]: mean on the micro grid
      val pj = pref.select(col("b").as("j"),
        (col("pn") - col("n")).as("pnj"), (col("py") - col("sy")).as("pyj"))
      val pk = pref.select(col("b").as("k"), col("pn").as("pnk"),
        col("py").as("pyk"))
      val intervals = pj.join(pk, col("j") <= col("k"))
        .select(col("j"), col("k"),
          expr("(pyk - pyj) * 1000000 DIV (pnk - pnj)").as("avg_micro"))
      // fit(i) = max over j<=i of (min over k>=i of avg(j,k))
      val fit = intervals
        .join(bk.select(col("b").as("i")),
          col("j") <= col("i") && col("i") <= col("k"))
        .groupBy(col("i"), col("j"))
        .agg(min(col("avg_micro")).as("mn"))
        .groupBy(col("i")).agg(max(col("mn")).as("iso_micro"))
      Materialize.pin(bk.join(fit, col("b") === col("i"))
        .select(col("b").as("bucket"), col("n"),
          expr("sy * 1000000 DIV n").as("rate_micro"), col("iso_micro")))
        .orderBy(col("bucket"))
    }
  }

  val oracleQ190: String =
    """WITH d AS (
      |  SELECT least(len(regexp_extract_all(text, '\w+')) // 20, 49) AS b,
      |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |        AS BIGINT) % 1000
      |      < 100 + least(len(regexp_extract_all(text, '\w+')) // 20, 49)
      |        * 15
      |      THEN 1 ELSE 0 END AS y
      |  FROM documents
      |), bk AS (
      |  SELECT CAST(b AS BIGINT) AS b, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS sy
      |  FROM d GROUP BY b
      |), pref AS (
      |  SELECT b, n, sy,
      |    CAST(SUM(n) OVER (ORDER BY b) AS BIGINT) AS pn,
      |    CAST(SUM(sy) OVER (ORDER BY b) AS BIGINT) AS py
      |  FROM bk
      |), iv AS (
      |  SELECT pj.b AS j, pk.b AS k,
      |    (pk.py - (pj.py - pj.sy)) * 1000000
      |      // (pk.pn - (pj.pn - pj.n)) AS avg_micro
      |  FROM pref pj JOIN pref pk ON pj.b <= pk.b
      |), fit AS (
      |  SELECT i, CAST(MAX(mn) AS BIGINT) AS iso_micro
      |  FROM (
      |    SELECT bi.b AS i, iv.j, MIN(iv.avg_micro) AS mn
      |    FROM iv JOIN bk bi ON iv.j <= bi.b AND bi.b <= iv.k
      |    GROUP BY bi.b, iv.j
      |  ) GROUP BY i
      |)
      |SELECT bk.b AS bucket, bk.n, bk.sy * 1000000 // bk.n AS rate_micro,
      |  f.iso_micro
      |FROM bk JOIN fit f ON f.i = bk.b
      |ORDER BY bucket""".stripMargin

  /** Iteration count for q183 — enough to pin the direction; the gate
    * checks the exact quantized state after each engine runs the SAME
    * three iterations, not convergence. */
  val PcaIters = 3

  /** q183 — PCA TOP COMPONENT of the embedding corpus by distributed
    * power iteration ([[graft.operators.Pca]]): center, then iterate
    * v ← normalize(Xᵀ(Xv)) with exact-integer matvec carriers so both
    * engines walk bit-identical states. The spectral member of the
    * embedding-analysis family (q18 blocked near-dup, q86 SemDeDup,
    * q131 JL projection): principal direction + per-component scaled
    * accumulator. */
  def q183PcaPower(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.topComponent(
      s, Tables.embeddings(s, dir), dim = 64, iters = PcaIters)

  val oracleQ183: String = {
    // unrolled power iterations; every CTE MATERIALIZED (the q153/q61
    // lesson: DuckDB re-inlines plain CTEs exponentially)
    def iter(t: Int, prev: String): String =
      s"""s$t AS MATERIALIZED (
         |  SELECT xc.vec_id, CAST(SUM(xc.v * p.vq) AS BIGINT) AS s
         |  FROM xc JOIN $prev p USING (i) GROUP BY xc.vec_id
         |), w$t AS MATERIALIZED (
         |  SELECT xc.i, CAST(SUM(xc.v * s$t.s) AS BIGINT) AS w
         |  FROM xc JOIN s$t USING (vec_id) GROUP BY xc.i
         |), ws$t AS MATERIALIZED (
         |  SELECT i, CAST(floor(CAST(w AS DOUBLE) / 16777216.0) AS BIGINT)
         |    AS ws
         |  FROM w$t
         |), nm$t AS MATERIALIZED (
         |  SELECT sqrt(CAST(CAST(SUM(ws * ws) AS BIGINT) AS DOUBLE)) AS nm
         |  FROM ws$t
         |), v$t AS MATERIALIZED (
         |  SELECT i, CAST(floor(CAST(ws AS DOUBLE) / (SELECT nm FROM nm$t)
         |    * 1000 + 0.5) AS BIGINT) AS vq
         |  FROM ws$t
         |)""".stripMargin
    val iters = (1 to PcaIters)
      .map(t => iter(t, if (t == 1) "v0" else s"v${t - 1}"))
      .mkString(", ")
    s"""WITH xq AS MATERIALIZED (
       |  SELECT vec_id, CAST(j - 1 AS INT) AS i,
       |    CAST(floor(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * 1000
       |      + 0.5) AS BIGINT) AS v
       |  FROM embeddings, range(1, 65) r(j)
       |), cnt AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
       |), mu AS MATERIALIZED (
       |  SELECT i, CAST(floor(CAST(SUM(v) AS DOUBLE)
       |    / (SELECT n FROM cnt)) AS BIGINT) AS mu
       |  FROM xq GROUP BY i
       |), xc AS MATERIALIZED (
       |  SELECT x.vec_id, x.i, x.v - m.mu AS v
       |  FROM xq x JOIN mu m USING (i)
       |), v0 AS MATERIALIZED (
       |  SELECT CAST(i AS INT) AS i, CAST(1000 AS BIGINT) AS vq
       |  FROM range(0, 64) r(i)
       |), $iters
       |SELECT v.i, CAST(v.vq AS DOUBLE) / 1000.0 AS loading, w.ws AS w_scaled
       |FROM v$PcaIters v JOIN ws$PcaIters w USING (i)
       |ORDER BY v.i""".stripMargin
  }

  /** Core threshold and unroll bound for q153. K = 80 sits just below the
    * co-purchase graph's collapse threshold (empirically: 5 peel rounds
    * and a surviving ~93% core at both sf0.01 and sf0.1; K = 90 empties
    * the graph), so the gate exercises real multi-round peeling with a
    * non-trivial fixpoint. The oracle unrolls [[KCoreRounds]] rounds —
    * peeling is idempotent after convergence, so surplus rounds are
    * no-ops — and fails loudly if the last round still removed nodes. */
  val KCoreK = 80
  val KCoreRounds = 8

  /** q153 — k-core (onion) decomposition of the part co-purchase graph:
    * iteratively peel nodes with degree < K; report each node's PEEL
    * ROUND (the "onion layer" — null for core survivors) and the
    * survivors' final in-core degree. The standard graph-curation
    * statistic for separating a dense organic core from tendrils, and the
    * fourth graph shape in the engine (peeling fixpoint) alongside
    * reachability (q61/q79), propagation (q113) and local counting
    * (q146).
    *
    * Scale shape: each round is two map-side-combined degree counts and
    * two anti-joins against the (bounded) weak set, with every round's
    * edge set localCheckpoint'ed (the iterative-lineage rule — plans stay
    * constant-size). Round count is data-dependent; the empirical 5 at
    * both SFs is asserted < [[KCoreRounds]] and non-convergence fails
    * loudly in BOTH engines rather than returning a wrong core. */
  def q153KCore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.KCore
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val edges = li.select(col("ok"), col("p").as("pa"))
      .join(li.select(col("ok"), col("p").as("pb")), Seq("ok"))
      .filter(col("pa") < col("pb"))
      .select(col("pa").as("u"), col("pb").as("v"))
      .distinct()
    KCore.peel(s, edges, KCoreK, KCoreRounds).orderBy(col("node"))
  }

  val oracleQ153: String = {
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    // reference, so the g-chain would re-read lineitem exponentially many
    // times (the q61 recursive-oracle lesson; here it exhausted the fd
    // limit before memory)
    // per-round ALIVE node sets (n$i) mirror KCore.peel's carried
    // surviving-node set: a node absent from d$i but still alive peels
    // with degree 0 (all its edges vanished in the prior round) instead
    // of silently never being classified
    def round(i: Int): String =
      s"""d$i AS MATERIALIZED (
         |  SELECT x, CAST(COUNT(*) AS BIGINT) AS d
         |  FROM (SELECT u AS x FROM g$i UNION ALL SELECT v FROM g$i)
         |  GROUP BY x
         |), w$i AS MATERIALIZED (
         |  SELECT n.node AS x FROM n$i n LEFT JOIN d$i d ON d.x = n.node
         |  WHERE COALESCE(d.d, 0) < $KCoreK
         |), n${i + 1} AS MATERIALIZED (
         |  SELECT node FROM n$i
         |  WHERE node NOT IN (SELECT x FROM w$i)
         |), g${i + 1} AS MATERIALIZED (
         |  SELECT u, v FROM g$i
         |  WHERE u NOT IN (SELECT x FROM w$i)
         |    AND v NOT IN (SELECT x FROM w$i)
         |)""".stripMargin
    val rounds = (0 until KCoreRounds).map(round).mkString(", ")
    val removedUnion = (0 until KCoreRounds)
      .map(i => s"SELECT x, ${i + 1} AS peel_round FROM w$i")
      .mkString("\n  UNION ALL ")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |), g0 AS MATERIALIZED (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
       |), nodes AS (
       |  SELECT u AS node FROM g0 UNION SELECT v FROM g0
       |), n0 AS MATERIALIZED (
       |  SELECT node FROM nodes
       |), $rounds, d$KCoreRounds AS MATERIALIZED (
       |  SELECT x, CAST(COUNT(*) AS BIGINT) AS d
       |  FROM (SELECT u AS x FROM g$KCoreRounds
       |        UNION ALL SELECT v FROM g$KCoreRounds)
       |  GROUP BY x
       |), removed AS (
       |  $removedUnion
       |), chk AS (
       |  SELECT CASE WHEN (SELECT COUNT(*) FROM w${KCoreRounds - 1}) > 0
       |    THEN error('q153: k-core did not converge in the unrolled rounds')
       |    ELSE 1 END AS ok
       |)
       |SELECT n.node, CAST(r.peel_round AS BIGINT) AS peel_round,
       |  fd.d AS core_deg
       |FROM nodes n
       |LEFT JOIN removed r ON r.x = n.node
       |LEFT JOIN d$KCoreRounds fd ON fd.x = n.node
       |CROSS JOIN chk
       |WHERE chk.ok = 1
       |ORDER BY n.node""".stripMargin
  }

  val oracleQ146: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |), edges AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
      |), tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM edges e1
      |  JOIN edges e2 ON e2.u = e1.v
      |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
      |), corners AS (
      |  SELECT a AS node FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri
      |)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
      |FROM corners GROUP BY node
      |ORDER BY n_tri DESC, node LIMIT 100""".stripMargin

  /** q203 multi-vector geometry: consecutive embeddings are grouped into
    * token bags of [[MaxSimTokens]] vectors per document (doc =
    * vec_id div tokens, the deterministic carving the corpus supports);
    * the first [[MaxSimQueries]] docs are the query batch. */
  val MaxSimTokens = 8
  val MaxSimQueries = 4
  val MaxSimK = 10

  /** q203 — late-interaction (ColBERT MaxSim) retrieval scoring
    * (Khattab & Zaharia, SIGIR'20): score(q, d) = Σ_{t∈q} max_{s∈d}
    * cos(t, s) over multi-vector documents, top-[[MaxSimK]] docs per
    * query. Complements the single-vector retrieval family (q17 exact
    * cosine, q47/q57/q98/q99/q195 ANN, q71 BM25, q134 RRF): MaxSim is
    * the scoring shape every late-interaction index (ColBERT, PLAID)
    * ultimately evaluates.
    *
    * Numeric parity: per-token cosines are quantized to
    * floor(cos·1e6 + 0.5) BIGNTs BEFORE max/sum — max is order-free and
    * the per-query sum is exact integer addition in both engines (the
    * q72 scaled-integer-carrier rule). The dot/norm folds are the
    * codegen'd [[graft.functions.dotProduct]]/[[graft.functions.l2Norm]]
    * whose bit-parity with DuckDB `list_dot_product` carries q17/q18.
    *
    * Scale shape: the query batch is bounded by construction
    * ([[MaxSimQueries]]·[[MaxSimTokens]] token vectors) and BROADCAST;
    * corpus token vectors never shuffle — the only exchanges are the
    * two keyed aggregations on (query, doc[, token]), both map-side
    * combinable. At 1000 executors this is one broadcast + two partial
    * aggs over the token shards, exactly how a PLAID-style scorer
    * distributes. */
  def q203Maxsim(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.embeddings(s, dir)
      .select(expr(s"vec_id div $MaxSimTokens").as("td"),
        col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", graft.functions.l2Norm(col("v")))
      .filter(col("n") > 0)
    val d = toks.filter(col("td") >= MaxSimQueries)
      .select(col("td").as("doc"), col("v").as("dv"), col("n").as("dn"))
    val qtoks = toks.filter(col("td") < MaxSimQueries)
      .select(col("td").as("query_doc"), col("vec_id").as("qtok"),
        col("v").as("qv"), col("n").as("qn"))
    val pair = d.crossJoin(broadcast(qtoks))
      .withColumn("qcos",
        floor(graft.functions.dotProduct(col("qv"), col("dv"))
          / (col("qn") * col("dn")) * lit(1e6) + lit(0.5)))
    val mx = pair.groupBy(col("query_doc"), col("doc"), col("qtok"))
      .agg(max(col("qcos")).as("m"))
    val sc = mx.groupBy(col("query_doc"), col("doc"))
      .agg(sum(col("m")).as("score"))
    val w = Window.partitionBy(col("query_doc"))
      .orderBy(col("score").desc, col("doc"))
    sc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MaxSimK)
      .select(col("query_doc"), col("doc"), col("score"), col("rk"))
      .orderBy(col("query_doc"), col("rk"))
  }

  lazy val oracleQ203: String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT vec_id // $MaxSimTokens AS td, vec_id,
       |    CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[]))) AS n
       |  FROM embeddings
       |), ft AS (SELECT * FROM toks WHERE n > 0),
       |pair AS (
       |  SELECT q.td AS query_doc, d.td AS doc, q.vec_id AS qtok,
       |    CAST(floor(list_dot_product(q.v, d.v) / (q.n * d.n) * 1e6
       |      + 0.5) AS BIGINT) AS qcos
       |  FROM ft q JOIN ft d
       |    ON q.td < $MaxSimQueries AND d.td >= $MaxSimQueries
       |), mx AS (
       |  SELECT query_doc, doc, qtok, max(qcos) AS m
       |  FROM pair GROUP BY 1, 2, 3
       |), sc AS (
       |  SELECT query_doc, doc, CAST(SUM(m) AS BIGINT) AS score
       |  FROM mx GROUP BY 1, 2
       |)
       |SELECT query_doc, doc, score, CAST(rk AS INT) AS rk FROM (
       |  SELECT query_doc, doc, score, row_number() OVER (
       |    PARTITION BY query_doc ORDER BY score DESC, doc) AS rk
       |  FROM sc
       |) WHERE rk <= $MaxSimK
       |ORDER BY query_doc, rk""".stripMargin

  /** q205 geometry: [[KcentK]] greedy rounds; coordinates quantized to
    * floor(x·2^20) so every pairwise squared distance is an exact
    * sub-2^53 integer in both engines (power-of-two scaling is
    * float→double-exact; Σ(a−b)² = Σa² + Σb² − 2Σab with each term an
    * integer-valued double < 2^50). */
  val KcentK = 8
  private val KcentScale = "1048576.0"

  /** q205 — k-center coreset selection (Gonzalez' greedy 2-approximation,
    * TCS'85): pick [[KcentK]] centers, each round taking the point
    * farthest from the chosen set (ties → lowest id), then assign every
    * point to its nearest center. This is the facility-location shape of
    * training-data SELECTION (coresets, active-learning seeds,
    * diversity-maximizing subset) the sampling family (q63/q85/q133)
    * doesn't cover: those control *rates*, k-center controls *coverage*.
    *
    * Scale shape: each round is one map-side distance update against a
    * BROADCAST center (a literal column) followed by one bounded argmax
    * (`limit(1)` — the only driver traffic is k single-row collects,
    * bounded metadata by round count, the documented q74 Lloyd
    * discipline); the point set is localCheckpoint'ed once and never
    * shuffles. Final assignment is one broadcast join against the
    * k-row center table. At 100 TB the same program holds: k bounded
    * rounds of scan+reduce, no pairwise materialization. */
  def q205Kcenter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = Materialize.pin(Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr(s"transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          s"x -> CAST(floor(x * $KcentScale) AS DOUBLE))").as("qv"))
      .withColumn("sq", graft.functions.dotProduct(col("qv"), col("qv"))))
      // reused KcentK+1 times below
    def d2To(cqv: Seq[Double], csq: Double) =
      (col("sq") + lit(csq)
        - lit(2.0) * graft.functions.dotProduct(col("qv"), typedlit(cqv)))
        .cast("long")
    val c0 = pts.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("qv"), col("sq")).collect()(0)
    var centers = Vector[(Int, Long, Seq[Double], Double, Long)](
      (0, c0.getLong(0),
        c0.getAs[scala.collection.Seq[Double]](1).toSeq, c0.getDouble(2), 0L))
    var cur = Materialize.pin(
      pts.withColumn("mind", d2To(centers(0)._3, centers(0)._4)))
    var r = 1
    while (r < KcentK) {
      val far = cur.orderBy(col("mind").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("qv"), col("sq"), col("mind"))
        .collect()(0)
      centers = centers :+ ((r, far.getLong(0),
        far.getAs[scala.collection.Seq[Double]](1).toSeq, far.getDouble(2),
        far.getLong(3)))
      cur = Materialize.pin(cur.withColumn("mind",
          least(col("mind"), d2To(centers(r)._3, centers(r)._4))))
      r += 1
    }
    import s.implicits._
    val ctr = centers.toDF("round", "center_id", "cqv", "csq", "radius")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2"), col("round"))
    val asg = pts.crossJoin(broadcast(ctr))
      .withColumn("d2", (col("sq") + col("csq")
        - lit(2.0) * graft.functions.dotProduct(col("qv"), col("cqv")))
        .cast("long"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    asg.groupBy(col("round"), col("center_id"), col("radius"))
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("round"), col("center_id"), col("radius"),
        col("cluster_size"))
      .orderBy(col("round"))
  }

  lazy val oracleQ205: String = {
    val rounds = (1 until KcentK).map { r =>
      // selection CTE c$r reads m$r; the NEXT distance CTE m${r+1}
      // folds c$r in with least()
      s"""c$r AS (SELECT vec_id, qv, sq, mind FROM m$r
         |  ORDER BY mind DESC, vec_id LIMIT 1),
         |m${r + 1} AS MATERIALIZED (
         |  SELECT p.vec_id, p.qv, p.sq,
         |    least(p.mind, CAST(p.sq + c.sq
         |      - 2 * list_dot_product(p.qv, c.qv) AS BIGINT)) AS mind
         |  FROM m$r p, c$r c)""".stripMargin
    }.mkString(",\n")
    val ctrUnion = (1 until KcentK).map { r =>
      s"UNION ALL SELECT $r, vec_id, qv, sq, mind FROM c$r"
    }.mkString("\n")
    s"""WITH qe AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> floor(x * $KcentScale)) AS qv
       |  FROM embeddings
       |), sqs AS MATERIALIZED (
       |  SELECT vec_id, qv, list_dot_product(qv, qv) AS sq FROM qe
       |), c0 AS (SELECT vec_id, qv, sq FROM sqs ORDER BY vec_id LIMIT 1),
       |m1 AS MATERIALIZED (
       |  SELECT p.vec_id, p.qv, p.sq,
       |    CAST(p.sq + c.sq - 2 * list_dot_product(p.qv, c.qv) AS BIGINT)
       |      AS mind
       |  FROM sqs p, c0 c),
       |$rounds,
       |ctr AS (
       |  SELECT 0 AS r, vec_id, qv, sq, CAST(0 AS BIGINT) AS mind FROM c0
       |  $ctrUnion
       |), asg AS (
       |  SELECT p.vec_id, c.r, row_number() OVER (PARTITION BY p.vec_id
       |    ORDER BY CAST(p.sq + c.sq
       |      - 2 * list_dot_product(p.qv, c.qv) AS BIGINT), c.r) AS rn
       |  FROM sqs p, ctr c
       |)
       |SELECT CAST(c.r AS INT) AS round, c.vec_id AS center_id,
       |  c.mind AS radius, CAST(a.cnt AS BIGINT) AS cluster_size
       |FROM ctr c JOIN (
       |  SELECT r, count(*) AS cnt FROM asg WHERE rn = 1 GROUP BY r) a
       |  ON a.r = c.r
       |ORDER BY round""".stripMargin
  }
}
