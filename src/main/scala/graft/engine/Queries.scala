package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.PreparedPolygon
import graft.functions.{GeoCols, MinHashSig, PipContains, S2CellIdExpr, ShingleHashes, SimHashPack, WrapExtract}

/** The driver-gate query registry: every entry pairs a Spark implementation
  * with (where SQL-expressible) a DuckDB oracle over the same parquet
  * tables. Column names and value rounding are part of the contract — keep
  * Spark aliases and SQL aliases in lockstep.
  */
object Queries {

  final case class Q(
      name: String,
      impl: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Root for gate-derived published tables (q18's clustered layout, q54's
    * WARC framing). Driver-local tmpdir is PER-NODE on a real cluster —
    * executors and a remote driver would not see one shared table — so a
    * deploy points this at a shared filesystem via spark conf
    * `spark.graft.publishRoot` (or SPARK_GRAFT_PUBLISH_ROOT); the tmpdir
    * default is for local mode only. */
  private[graft] def publishRoot(s: SparkSession): String =
    s.conf.getOption("spark.graft.publishRoot")
      .orElse(sys.env.get("SPARK_GRAFT_PUBLISH_ROOT"))
      .getOrElse(sys.props("java.io.tmpdir"))
      .stripSuffix("/")

  /** Content fingerprint of an input table: full path + parquet file names
    * + lengths + modification times (one listStatus round trip) folded
    * through SplitMix64 (the ArchiveSource mirrorFingerprint recipe).
    * Keying the published-table cache on this — not on a 32-bit path
    * hash — means regenerated input data at the same path rebuilds the
    * derived table even when the rewrite lands byte-for-byte the same
    * size (mtime still moves), and two distinct dirs can never silently
    * alias to one cache entry. */
  private[graft] def tableFingerprint(dir: String, table: String): String = {
    val path = s"$dir/$table.parquet"
    val entries = graft.core.Fs.listFilesWithStat(path)
      .map { case (p, l, m) => s"${p.split('/').last}:$l:$m" }
      .sorted
    val h = (path +: entries).foldLeft(0x9e3779b97f4a7c15L) { (acc, e) =>
      e.foldLeft(graft.functions.SplitMix64.mix(acc)) { (a, ch) =>
        graft.functions.SplitMix64.mix(a ^ ch.toLong)
      }
    }
    java.lang.Long.toHexString(h)
  }

  // ---------------------------------------------------------------- geo ---

  /** Convex CCW pentagon inside the doc-coordinate tile (lon 6..7, lat 43..44). */
  val PipPoly: Array[Double] = Array(
    6.15, 43.05, 6.85, 43.15, 6.95, 43.75, 6.45, 43.95, 6.05, 43.55)

  private def pipPolySql(lon: String, lat: String): String = {
    // inside a convex CCW polygon: cross((p_i -> p_i+1), (p_i -> pt)) > 0 for all i
    val pts = PipPoly.grouped(2).toArray
    val conds = pts.indices.map { i =>
      val Array(x1, y1) = pts(i)
      val Array(x2, y2) = pts((i + 1) % pts.length)
      s"(($x2 - $x1) * ($lat - $y1) - ($y2 - $y1) * ($lon - $x1)) > 0"
    }
    conds.mkString("(", " AND ", ")")
  }

  private def withDocCoords(df: DataFrame): DataFrame =
    df.withColumn("lon", GeoCols.docLon(col("doc_id")))
      .withColumn("lat", GeoCols.docLat(col("doc_id")))

  private val docCoordsSql =
    s"SELECT *, ${GeoCols.docLonSql} AS lon, ${GeoCols.docLatSql} AS lat FROM documents"

  private val qGeoCell = Q(
    "q10_geo_cell_counts",
    (s, dir) => {
      val docs = withDocCoords(t(s, dir, "documents"))
      docs
        .withColumn("cell", GeoCols.cellId(col("lon"), col("lat"), 6))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_docs"), round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("cell")
    },
    Some(s"""SELECT ${GeoCols.cellIdSql(GeoCols.docLonSql, GeoCols.docLatSql, 6)} AS cell,
            | count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
            | FROM documents GROUP BY 1 ORDER BY cell""".stripMargin))

  private val qGeoPip = Q(
    "q11_geo_pip",
    (s, dir) => {
      withDocCoords(t(s, dir, "documents"))
        .filter(PipContains.col(col("lon"), col("lat"), PreparedPolygon(PipPoly)))
        .select(col("doc_id"), round(col("lon"), 6).as("lon"), round(col("lat"), 6).as("lat"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, round(lon, 6) AS lon, round(lat, 6) AS lat
            | FROM ($docCoordsSql)
            | WHERE ${pipPolySql("lon", "lat")} ORDER BY doc_id""".stripMargin))

  /** kNN query points (inside the doc tile). */
  val KnnQueries: Seq[(Int, Double, Double)] = Seq(
    (0, 6.1, 43.2), (1, 6.5, 43.5), (2, 6.9, 43.8), (3, 6.3, 43.7), (4, 6.7, 43.1))

  private val qGeoKnn = Q(
    "q12_geo_knn",
    (s, dir) => {
      // engine form: the cell-indexed batch kNN operator (ring-discovery +
      // provably-covering candidate equi-join, SpatialJoin.knnBatch) — NOT
      // a unionAll of per-query full scans, which reads the table once per
      // query. The oracle keeps the brute-force union SQL; d2 values are
      // identical because the literal query coords round-trip exactly
      // through the query DF and the distance expression is the same
      // IEEE arithmetic.
      import s.implicits._
      // res is a pure density knob (results exact at any res): coarser
      // cells shrink the radius-discovery fanout (2·maxR+1)^2 per query at
      // the cost of slightly larger candidate sets for the top-k window
      val res = 4
      val docs = withDocCoords(t(s, dir, "documents"))
        .withColumn("cell", GeoCols.cellId(col("lon"), col("lat"), res))
        .withColumn("page_id", col("doc_id"))
      val queries = KnnQueries.toDF("q_id", "q_lon", "q_lat")
      SpatialJoin.knnBatch(docs, queries, k = 5, res = res, maxR = 16)
        .select(col("q_id").cast("int").as("q_id"), col("rank"),
          col("page_id").as("doc_id"), round(col("d2"), 8).as("d2"))
        .orderBy("q_id", "rank")
    },
    Some {
      val unions = KnnQueries.map { case (qid, qLon, qLat) =>
        s"""SELECT $qid AS q_id, doc_id,
           | ${GeoCols.sqDistSql("lon", "lat", qLon, qLat)} AS d2 FROM ($docCoordsSql)""".stripMargin
      }.mkString(" UNION ALL ")
      s"""SELECT q_id, rank, doc_id, round(d2, 8) AS d2 FROM (
         |  SELECT q_id, doc_id, d2,
         |   row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, doc_id ASC) AS rank
         |  FROM ($unions)) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    })

  private val qGeoTiles = Q(
    "q13_geo_tile_assign",
    (s, dir) => {
      // the golden N43E006 chop boundaries (tests/hgt/test_file.py:74-95)
      val docs = withDocCoords(t(s, dir, "documents"))
      docs
        .withColumn(
          "tile",
          when(col("lat") < 43.5, lit(0))
            .when(col("lat") < 43.75, lit(1))
            .when(col("lat") < 43.875, lit(2))
            .otherwise(lit(3)))
        .groupBy("tile")
        .agg(
          count(lit(1)).as("n_docs"),
          round(min("lat"), 6).as("min_lat"),
          round(max("lat"), 6).as("max_lat"))
        .orderBy("tile")
    },
    Some(s"""SELECT CASE WHEN lat < 43.5 THEN 0 WHEN lat < 43.75 THEN 1
            | WHEN lat < 43.875 THEN 2 ELSE 3 END AS tile,
            | count(*) AS n_docs, round(min(lat), 6) AS min_lat, round(max(lat), 6) AS max_lat
            | FROM ($docCoordsSql) GROUP BY 1 ORDER BY tile""".stripMargin))

  /** Batch-table kNN (J5 at its real scale): the query side is a 100-row
    * TABLE (docs with doc_id < 100), not a literal broadcast list — exact
    * results via SpatialJoin.knnBatch's two-pass cell-indexed candidate
    * join (radius discovery from per-cell counts, then a provably-covering
    * ring equi-join + windowed top-k; no driver loop). The oracle is the
    * brute-force cross join. */
  private val qGeoKnnBatch = Q(
    "q14_geo_knn_batch",
    (s, dir) => {
      val res = 4 // density knob, see q12 note — exact at any res
      val docs = withDocCoords(t(s, dir, "documents"))
        .withColumn("cell", GeoCols.cellId(col("lon"), col("lat"), res))
        .withColumn("page_id", col("doc_id"))
      val queries = docs.filter(col("doc_id") < 100)
        .select(col("doc_id").as("q_id"), col("lon").as("q_lon"), col("lat").as("q_lat"))
      SpatialJoin.knnBatch(docs, queries, k = 5, res = res, maxR = 16)
        .select(col("q_id"), col("rank"), col("page_id").as("doc_id"),
          round(col("d2"), 8).as("d2"))
        .orderBy("q_id", "rank")
    },
    Some(s"""WITH pts AS ($docCoordsSql),
            | q AS (SELECT doc_id AS q_id, lon AS q_lon, lat AS q_lat FROM pts WHERE doc_id < 100)
            |SELECT q_id, rank, doc_id, round(d2, 8) AS d2 FROM (
            | SELECT q.q_id, p.doc_id,
            |  ((p.lon - q.q_lon) * (p.lon - q.q_lon) + (p.lat - q.q_lat) * (p.lat - q.q_lat)) AS d2,
            |  row_number() OVER (PARTITION BY q.q_id ORDER BY
            |   ((p.lon - q.q_lon) * (p.lon - q.q_lon) + (p.lat - q.q_lat) * (p.lat - q.q_lat)) ASC,
            |   p.doc_id ASC) AS rank
            | FROM q CROSS JOIN pts p)
            |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin))

  private val qGeoBands = Q(
    "q15_geo_range_join",
    (s, dir) => {
      import s.implicits._
      val docs = withDocCoords(t(s, dir, "documents"))
        .withColumn("elev", col("doc_id") * lit(7919L) % lit(2000L))
      val bands = Seq((0L, 0L, 499L), (1L, 500L, 999L), (2L, 1000L, 1499L), (3L, 1500L, 1999L))
        .toDF("band", "lo", "hi")
      docs
        .join(broadcast(bands), col("elev") >= col("lo") && col("elev") <= col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"), round(avg("elev"), 4).as("avg_elev"))
        .orderBy("band")
    },
    Some("""SELECT band, count(*) AS n_docs, round(avg(elev), 4) AS avg_elev FROM
           | (SELECT doc_id * 7919 % 2000 AS elev FROM documents) d
           | JOIN (VALUES (0, 0, 499), (1, 500, 999), (2, 1000, 1499), (3, 1500, 1999))
           |  AS b(band, lo, hi)
           | ON d.elev >= b.lo AND d.elev <= b.hi
           | GROUP BY band ORDER BY band""".stripMargin))

  private val qS2PrunedScan = Q(
    "q18_s2_pruned_scan",
    (s, dir) => {
      // the storage-layout path end-to-end: write the docs S2-leaf-
      // clustered, then serve a bbox through the cover-range pushdown
      // (PushedFilters on the sorted s2 column prune row groups) + the
      // exact lon/lat refilter. The oracle aggregates the same bbox from
      // the raw table — layout must never change results.
      val docs = withDocCoords(t(s, dir, "documents"))
        .select("doc_id", "lon", "lat", "n_chars")
      // one PUBLISHED dir per input table CONTENT — bounded (repeated runs
      // reuse it), concurrent-safe (Fs.publishOnce: unique stage,
      // no-clobber rename, losers discard and read the winner's identical
      // table), and rebuilt when the input data changes (fingerprint keys
      // on file names+lengths, not the path's 32-bit hash)
      val tmp =
        s"${publishRoot(s)}/graft_q18_cluster_${tableFingerprint(dir, "documents")}"
      graft.core.Fs.publishOnce(tmp, s.sparkContext.applicationId) { stage =>
        SpatialJoin.writeClusteredS2(docs, stage, "lon", "lat", partitions = 8)
      }
      val (lo0, la0, lo1, la1) = (6.3, 43.3, 6.7, 43.7)
      s.read.parquet(tmp)
        .filter(SpatialJoin.s2RangePredicate(lo0, la0, lo1, la1, level = 11))
        .filter(col("lon").between(lo0, lo1) && col("lat").between(la0, la1))
        .agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 4).as("avg_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
    },
    Some(s"""SELECT count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
            | min(doc_id) AS min_doc, max(doc_id) AS max_doc
            |FROM ($docCoordsSql)
            |WHERE lon >= 6.3 AND lon <= 6.7 AND lat >= 43.3 AND lat <= 43.7""".stripMargin))

  private val qSeqPack = Q(
    "q19_seq_pack",
    (s, dir) => {
      // sequence packing (engine/Pack.scala): docs laid out by doc_id,
      // token stream (n_chars as the proxy count) cut every 4096 — chunk
      // membership from a SEGMENTED two-pass prefix sum, never a global
      // single-task window. The oracle runs the naive global-window SQL:
      // identical arithmetic, fine single-threaded at oracle scale.
      Pack.chunkIds(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", capacity = 4096L, bandWidth = 64L)
        .groupBy("chunk")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("chunk")
    },
    Some("""SELECT CAST(pre // 4096 AS BIGINT) AS chunk, count(*) AS n_docs,
           | CAST(sum(n_chars) AS BIGINT) AS n_tokens,
           | min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM (SELECT doc_id, n_chars, coalesce(sum(n_chars) OVER
           |  (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           | FROM documents)
           |GROUP BY 1 ORDER BY chunk""".stripMargin))

  private val qAsof = Q(
    "q17_asof_join",
    (s, dir) => {
      // as-of join (engine/AsOf.scala): latest prior 'view' per 'purchase'
      // by the same user — one union + one keyed window pass, NO join node
      // and no range explosion; the oracle is DuckDB's native ASOF JOIN.
      // Output is ts-derived only: tied (user, ts) view rows are resolved
      // arbitrarily by DuckDB, identically by timestamp either way.
      val ev = t(s, dir, "events").withColumn("ts", col("ts").cast("timestamp"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts")
      AsOf.join(purchases, views, "user_id", "ts", "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("asof_ts")).as("view_us"),
          (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("gap_us"))
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id, p.user_id, epoch_us(v.ts) AS view_us,
           | epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
           | FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           | ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
           | ON p.user_id = v.user_id AND v.ts <= p.ts
           | ORDER BY p.event_id""".stripMargin))

  /** DuckDB twin of core/S2.cellId over the doc lattice: the projection
    * chain (radians -> xyz -> face -> uv -> quadratic st -> ij) as CTEs,
    * then the Hilbert walk UNROLLED one CTE pair per level (no recursion),
    * with the lookup tables as CASE maps of `orientation*4 + ij2bits`.
    * Every non-trig step is IEEE-exact cross-engine; the trig steps can
    * drift by ulps, which S2Spec's gate-margin guard proves cannot move a
    * lattice point across a level-11 cell wall. The face term overflows
    * BIGINT for faces 4/5 (sign bit); the doc tile provably projects onto
    * face 0 (same guard), so the oracle stays in signed range. */
  private def s2CellsOracleSql(level: Int): String = {
    val rad = "/180.0*pi()"
    val proj =
      s"""p0 AS (SELECT doc_id, n_chars, ${GeoCols.docLonSql} AS lon, ${GeoCols.docLatSql} AS lat FROM documents),
         |p1 AS (SELECT *, cos(lat$rad)*cos(lon$rad) AS x, cos(lat$rad)*sin(lon$rad) AS y, sin(lat$rad) AS z FROM p0),
         |p2 AS (SELECT *, CASE WHEN abs(x) > abs(y) THEN (CASE WHEN abs(x) > abs(z) THEN 0 ELSE 2 END)
         |                      ELSE (CASE WHEN abs(y) > abs(z) THEN 1 ELSE 2 END) END AS axis FROM p1),
         |p3 AS (SELECT *, CASE WHEN axis = 0 THEN (CASE WHEN x < 0 THEN 3 ELSE 0 END)
         |                      WHEN axis = 1 THEN (CASE WHEN y < 0 THEN 4 ELSE 1 END)
         |                      ELSE (CASE WHEN z < 0 THEN 5 ELSE 2 END) END AS face FROM p2),
         |p4 AS (SELECT *, CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
         |                           WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
         |                 CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
         |                           WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v FROM p3),
         |p5 AS (SELECT *, CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
         |                 CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t FROM p4),
         |c0 AS (SELECT doc_id, n_chars, face,
         |        greatest(0, least(1073741823, CAST(floor(s*1073741824.0) AS BIGINT))) AS i,
         |        greatest(0, least(1073741823, CAST(floor(t*1073741824.0) AS BIGINT))) AS j,
         |        CAST(0 AS BIGINT) AS pos, CAST(face & 1 AS BIGINT) AS orient FROM p5)""".stripMargin
    // IJtoPos flattened as CASE over orientation*4 + (i_bit<<1 | j_bit);
    // PosToOrientation = [1,0,0,3] as the orient-update CASE
    val ijToPosCase = (for (r <- 0 to 3; ij <- 0 to 3)
      yield s"WHEN ${r * 4 + ij} THEN ${graft.core.S2.ijToPosTable(r)(ij)}").mkString(" ")
    val steps = (1 to level).map { step =>
      val k = 30 - step
      val prev = s"c${step - 1}"
      s"""s$step AS (SELECT *, CASE orient*4 + (((i >> $k) & 1)*2 + ((j >> $k) & 1)) $ijToPosCase END AS p FROM $prev),
         |c$step AS (SELECT doc_id, n_chars, face, i, j, pos*4 + p AS pos,
         |            xor(orient, CASE p WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 0 END) AS orient FROM s$step)""".stripMargin
    }
    val shift = 2 * (30 - level)
    s"""WITH $proj,
       |${steps.mkString(",\n")}
       |SELECT face * 2305843009213693952 + pos * ${1L << (shift + 1)} + ${1L << shift} AS cell,
       | count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
       |FROM c$level GROUP BY 1 ORDER BY cell""".stripMargin
  }

  private val qS2Cells = Q(
    "q16_s2_cells",
    (s, dir) => {
      // the S2-scheme sphere index (core/S2.scala) as a codegen'd
      // expression: one narrow projection + a hash agg on a long key —
      // identical plan shape to q10's flat-grid cells, but the key is
      // hierarchical (parent = bit mask) and locality-preserving
      withDocCoords(t(s, dir, "documents"))
        .withColumn("cell", S2CellIdExpr.col(col("lon"), col("lat"), 11))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_docs"), round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("cell")
    },
    Some(s2CellsOracleSql(11)))

  // --------------------------------------------------------------- text ---

  private val qDedupExact = Q(
    "q20_dedup_exact",
    (s, dir) => {
      // 100 TB-scale shape: never ship raw document bodies through an
      // exchange. Group on a 256-bit content hash (collision probability
      // negligible vs corpus size). r7: ONE scan and ONE exchange — the
      // old groupBy + join-back read (and sha2'd) the table twice and
      // shuffled it twice; a whole-partition window over the same
      // (tk64, tkey) keys computes min/count without the join
      // (guide §2.4: two operations keyed the same way share one
      // exchange). Exchange keys stay content hashes — no `text` column
      // appears in any shuffle.
      val w = Window.partitionBy("tk64", "tkey")
      t(s, dir, "documents")
        .select(col("doc_id"), xxhash64(col("text")).as("tk64"), sha2(col("text"), 256).as("tkey"))
        .select(col("doc_id"),
          min("doc_id").over(w).as("canonical_id"),
          count(lit(1)).over(w).as("n_copies"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id,
           | count(*) OVER (PARTITION BY text) AS n_copies
           | FROM documents ORDER BY doc_id""".stripMargin))

  // 4-gram polynomial hash shared by minhash/simhash; identical arithmetic
  // on both engines (ascii + substr are 1-based in Spark and DuckDB).
  private val shingleSql =
    """(ascii(substr(text, i, 1)) * 29791 + ascii(substr(text, i+1, 1)) * 961 +
      | ascii(substr(text, i+2, 1)) * 31 + ascii(substr(text, i+3, 1)))""".stripMargin

  private val MinhashParams = Seq((131L, 7L), (137L, 11L), (139L, 13L), (149L, 17L))
  private val P = 1000003L

  private def shingles(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .filter(length(col("text")) >= 4)
      .select(col("doc_id"), explode(ShingleHashes.col(col("text"), 4)).as("h"))
  }

  /** Per-doc shingle-hash ARRAY — no explode: (doc_id, hs). The r7 sketch
    * kernels (functions/TextSketch.scala) consume the array row-locally,
    * so the signature/fingerprint queries never ship one-row-per-shingle
    * through a Generate + aggregation (guide §2.3/§2.4). */
  private def shingleArr(s: SparkSession, dir: String, n: Int): DataFrame = {
    Ann.spreadSmall(t(s, dir, "documents").filter(length(col("text")) >= n))
      .select(col("doc_id"), ShingleHashes.col(col("text"), n).as("hs"))
  }

  /** MinHash signature columns (doc_id, mh0..mh3) from n-char shingles via
    * the one-pass MinHashSig kernel — identical values to the old
    * explode + groupBy(min...) form (TextSketchSpec pins the equality),
    * with zero exchanges: the signature becomes a narrow projection. */
  private def minhashSig(s: SparkSession, dir: String, n: Int): DataFrame = {
    val sig = MinHashSig.col(col("hs"), MinhashParams, P, preMod = false)
    // coalesce makes each key column NON-NULLABLE (the sentinel can never
    // fire: hs is non-null past the length filter and always holds
    // |params| minima). Without it the join planner infers isnotnull
    // filters on the keys and the pushdown INLINES the whole
    // minhash(shingle(text)) tree once PER KEY into a Filter below the
    // projection — re-running the kernel 4x per row (measured 0.66 vs
    // 0.41 s on q22 before this fix; the same duplication class as guide
    // §4.4's UDF example).
    shingleArr(s, dir, n)
      .select(col("doc_id") +: MinhashParams.indices.map(j =>
        coalesce(element_at(sig, j + 1), lit(-1L)).as(s"mh$j")): _*)
  }

  private val shinglesSql =
    s"""SELECT doc_id, $shingleSql AS h
       | FROM documents, LATERAL unnest(generate_series(1, length(text) - 3)) AS t(i)
       | WHERE length(text) >= 4""".stripMargin

  private val qMinhash = Q(
    "q21_minhash",
    // r7: one-pass MinHashSig kernel over the shingle array — the old
    // explode + 4-way min aggregation shipped one row PER CHARACTER of
    // the corpus into a hash aggregate; this is a narrow projection with
    // no Generate and no exchange beyond the output order (guide §2.4).
    (s, dir) => minhashSig(s, dir, 4).orderBy("doc_id"),
    Some {
      val aggs = MinhashParams.zipWithIndex.map { case ((a, b), j) =>
        s"min((h * $a + $b) % $P) AS mh$j"
      }.mkString(", ")
      s"SELECT doc_id, $aggs FROM ($shinglesSql) GROUP BY doc_id ORDER BY doc_id"
    })

  // 8-char shingles for near-dup candidates: the longer shingle
  // de-concentrates minhash minima (985 distinct 4-grams vs 13005 8-grams
  // on the synthetic corpus), so the LSH bucket join stays near-linear.
  // (The exploded shingles8 row helper was removed in r7 — every consumer
  // now reads the shingle ARRAY via shingleArr + the TextSketch kernels.)

  private val shingles8Sql = {
    val powers = Seq(27512614111L, 887503681L, 28629151L, 923521L, 29791L, 961L, 31L, 1L)
    val h = powers.zipWithIndex
      .map { case (p, k) => s"CAST(ascii(substr(text, i+$k, 1)) AS BIGINT) * $p" }
      .mkString(" + ")
    s"""SELECT doc_id, ($h) AS h
       | FROM documents, LATERAL unnest(generate_series(1, length(text) - 7)) AS t(i)
       | WHERE length(text) >= 8""".stripMargin
  }

  private val qNearDup = Q(
    "q22_near_dup_pairs",
    (s, dir) => {
      // one band of 4 rows: candidates must agree on the full signature.
      // r7: signatures via the one-pass array kernel (see q21) — the sig
      // subtree appears TWICE in this self-join plan, so the old
      // explode+aggregate form paid its corpus-wide shuffle twice; the
      // narrow form duplicates only a scan+projection.
      val sig = minhashSig(s, dir, 8)
      val keys = Seq("mh0", "mh1", "mh2", "mh3")
      val l = sig.toDF("doc_a" +: keys: _*)
      val r = sig.toDF("doc_b" +: keys: _*)
      l.join(r, keys)
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    },
    Some {
      val aggs = MinhashParams.zipWithIndex.map { case ((a, b), j) =>
        s"min((h * $a + $b) % $P) AS mh$j"
      }.mkString(", ")
      s"""WITH sig AS (SELECT doc_id, $aggs FROM ($shingles8Sql) GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM sig a JOIN sig b
         | ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.mh3 = b.mh3
         | AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    })

  /** Exact n-gram Jaccard verification of the LSH candidate pairs (q22):
    * the verify stage a production near-dup pipeline runs after banding.
    * Distinct 8-gram shingle sets per doc; |A∩B| / |A∪B|. */
  private val qJaccard = Q(
    "q27_jaccard_verify",
    (s, dir) => {
      // production verify shape: only CANDIDATES' shingles are ever
      // touched again after banding. r7 restructure (guide §2.3/§2.4):
      // signatures and per-doc distinct shingle SETS are per-row array
      // kernels — no explode, no corpus-wide (doc_id, h) distinct
      // exchange, no 5-way re-expansion of the shingle subtree (the r6
      // plan held 44 parquet scans / 116 aggregates; see
      // plans/r07/q27_jaccard_verify_before.txt). The candidate pair set
      // is tiny by construction (docs agreeing on the FULL 4-hash
      // signature), so the verify stage broadcast-joins the candidates'
      // distinct-set arrays and intersects row-locally —
      // size(array_intersect) on distinct arrays IS the old
      // (doc,h)-distinct intersection count. Only the sig self-join
      // exchanges anything corpus-sized: one row per doc, five longs.
      // At deploy scale, if the candidate sets outgrow a broadcast the
      // fallback (implemented: Ann.fetchSide, r7) is a SHUFFLED-HASH
      // join of the same per-doc set arrays on candidate ids — still
      // only suspects' shingles move, and the candidate stream is never
      // sort-merge-sorted at set-array width.
      val sig = minhashSig(s, dir, 8)
      val keys = Seq("mh0", "mh1", "mh2", "mh3")
      val cand = sig.toDF("doc_a" +: keys: _*)
        .join(sig.toDF("doc_b" +: keys: _*), keys)
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .unionAll(cand.select(col("doc_b").as("doc_id"))).distinct()
      // semi-filter BEFORE hashing: only candidate docs' texts are
      // re-shingled in this second pass
      // semi-filter the RAW docs table BEFORE hashing (join placed below
      // the projection explicitly — the optimizer does not push joins
      // through projects), so only candidate docs are re-shingled here
      val sets = t(s, dir, "documents")
        .join(broadcast(candDocs), Seq("doc_id"), "leftsemi")
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          array_distinct(ShingleHashes.col(col("text"), 8)).as("set"))
        .select(col("doc_id"), col("set"), size(col("set")).cast("long").as("sz"))
      cand
        .join(Ann.fetchSide(sets.toDF("doc_a", "set_a", "sz_a")), Seq("doc_a"))
        .join(Ann.fetchSide(sets.toDF("doc_b", "set_b", "sz_b")), Seq("doc_b"))
        .withColumn("n_inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
        .select(col("doc_a"), col("doc_b"),
          round(col("n_inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("n_inter")), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
    Some {
      val aggs = MinhashParams.zipWithIndex.map { case ((a, b), j) =>
        s"min((h * $a + $b) % $P) AS mh$j"
      }.mkString(", ")
      s"""WITH sh AS (SELECT DISTINCT doc_id, h FROM ($shingles8Sql)),
         | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         | sig AS (SELECT doc_id, $aggs FROM ($shingles8Sql) GROUP BY doc_id),
         | cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b
         |  ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.mh3 = b.mh3
         |  AND a.doc_id < b.doc_id),
         | inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c
         |  JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b AND y.h = x.h
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT i.doc_a, i.doc_b,
         | round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
         |FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
         | JOIN sizes sb ON sb.doc_id = i.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    })

  /** Document fingerprint over the rolling-hash stream: order-insensitive
    * (min, max, xor, distinct-count) content signature per doc. */
  private val qFingerprint = Q(
    "q28_fingerprint",
    (s, dir) => {
      // r7: the whole fingerprint is one per-row pass over the shingle
      // array. The old form exploded ~corpus-chars rows and — worse —
      // count(DISTINCT h) expanded into a (doc_id, h) grouping whose
      // exchange carried every distinct shingle of the corpus
      // (guide §2.3: the expensive part of a distinct is the exchange).
      // min/max/xor are order-free folds, so array order is irrelevant;
      // n_distinct = size(array_distinct).
      shingleArr(s, dir, 8)
        .select(
          col("doc_id"),
          array_min(col("hs")).as("fp_min"),
          array_max(col("hs")).as("fp_max"),
          aggregate(col("hs"), lit(0L), (acc, x) => acc.bitwiseXOR(x)).as("fp_xor"),
          size(array_distinct(col("hs"))).cast("long").as("n_distinct"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max,
            | bit_xor(h) AS fp_xor, count(DISTINCT h) AS n_distinct
            |FROM ($shingles8Sql) GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Quality scoring: token-level ratios (stopword share, vocabulary
    * diversity, mean token length) and a composite keep/drop signal — the
    * heuristics a pretraining-data pipeline gates documents on. */
  private val qQuality = Q(
    "q29_quality",
    (s, dir) => {
      // r7: every ratio is a per-row array expression over ONE
      // tokenization — the old explode + two count(DISTINCT tok)
      // aggregations shipped every (doc, token) STRING pair through an
      // expand + exchange, exactly the raw-text-in-shuffle shape the q46
      // rule bans (guide §2.3). Arithmetic reproduces the aggregates
      // bit-for-bit: token-length sum in a long, double division by the
      // token count, keep computed from the ROUNDED distinct_ratio as
      // before.
      t(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          round(aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)).cast("double") /
            size(col("toks")), 6).as("mean_tok_len"),
          round(size(filter(col("toks"), x => x.isin("the", "a", "and", "data"))).cast("double") /
            size(col("toks")), 6).as("stopword_ratio"),
          round(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")), 6).as("distinct_ratio"))
        .withColumn("keep", col("n_tokens") >= 25 && col("distinct_ratio") >= 0.3)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           |            FROM documents)
           |SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
           | round(avg(length(tok)), 6) AS mean_tok_len,
           | round(sum(CASE WHEN tok IN ('the','a','and','data') THEN 1 ELSE 0 END)
           |   / CAST(count(*) AS DOUBLE), 6) AS stopword_ratio,
           | round(count(DISTINCT tok) / CAST(count(*) AS DOUBLE), 6) AS distinct_ratio,
           | (count(*) >= 25 AND count(DISTINCT tok) / CAST(count(*) AS DOUBLE) >= 0.3) AS keep
           |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  private val qSimhash = Q(
    "q23_simhash",
    (s, dir) => {
      // r7: one-pass SimHashPack kernel over the shingle array — the old
      // form exploded shingles AND a further 8-way bit explode (O(8·chars)
      // Generate rows) through two aggregation rounds; the kernel computes
      // the identical vote sums row-locally with zero exchanges
      // (TextSketchSpec pins kernel == exploded arithmetic, incl. the
      // div/% semantics on negative hashes).
      shingleArr(s, dir, 4)
        .select(col("doc_id"), SimHashPack.col(col("hs"), 8).as("simhash"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash FROM (
            | SELECT doc_id, b, CASE WHEN sum(w) > 0 THEN (1::BIGINT << b) ELSE 0 END AS bitval
            | FROM (SELECT doc_id, h, b,
            |        CASE WHEN (h // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END AS w
            |       FROM ($shinglesSql), LATERAL unnest(generate_series(0, 7)) AS t2(b))
            | GROUP BY doc_id, b)
            |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** 32-bit SimHash banded near-dup: candidates share at least one of four
    * 8-bit bands of the simhash (never all-pairs), then verify by Hamming
    * distance <= 1 (the synthetic corpus shares one small vocabulary, so
    * 32-bit simhashes cluster tightly - a loose cut would pass most
    * pairs). The simhash-side twin of the MinHash-LSH pipeline. */
  private val qSimhashNearDup = Q(
    "q36_simhash_neardup",
    (s, dir) => {
      // 8-char shingles: wider hash, simhashes spread enough that band
      // buckets stay small (4-gram simhashes on this shared-vocabulary
      // corpus collapse into a handful of buckets).
      // r7: the 32 vote sums + bit packing collapse into the one-pass
      // SimHashPack kernel over the shingle array — the r6 form already
      // avoided the 32x row explode but still exploded shingles and
      // shuffled 32 vote columns per doc; this shuffles nothing
      // (TextSketchSpec pins kernel == vote-sum arithmetic). Oracle keeps
      // the exploded SQL.
      // coalesce: non-nullable sh32, so the band self-join infers no
      // isnotnull(bucket) filter that would inline (and re-run) the pack
      // kernel per predicate (see minhashSig; the sentinel cannot fire)
      val sig = shingleArr(s, dir, 8)
        .select(col("doc_id"),
          coalesce(SimHashPack.col(col("hs"), 32), lit(-1L)).as("sh32"))
      val banded = sig.select(col("doc_id"), col("sh32"),
        explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bucket", expr("(sh32 div shiftleft(CAST(1 AS BIGINT), band * 8)) % 256"))
      val cand = banded.toDF("doc_a", "sh_a", "band", "bucket")
        .join(banded.toDF("doc_b", "sh_b", "band", "bucket"), Seq("band", "bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
      cand
        .withColumn("hamming", expr("bit_count(CAST(sh_a AS BIGINT) ^ CAST(sh_b AS BIGINT))"))
        .filter(col("hamming") <= 1)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH sig AS (
            | SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS sh32 FROM (
            |  SELECT doc_id, b, CASE WHEN sum(w) > 0 THEN (1::BIGINT << b) ELSE 0 END AS bitval
            |  FROM (SELECT doc_id, h, b,
            |         CASE WHEN (h // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END AS w
            |        FROM ($shingles8Sql), LATERAL unnest(generate_series(0, 31)) AS t2(b))
            |  GROUP BY doc_id, b)
            | GROUP BY doc_id),
            |banded AS (
            | SELECT doc_id, sh32, band, (sh32 // (1::BIGINT << (band * 8))) % 256 AS bucket
            | FROM sig, LATERAL unnest(generate_series(0, 3)) AS t(band)),
            |cand AS (
            | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh32 AS sh_a, b.sh32 AS sh_b
            | FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
            |  AND a.doc_id < b.doc_id)
            |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
            |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 1
            |ORDER BY doc_a, doc_b""".stripMargin))

  /** Banded MinHash-LSH at production parameters (numHashes=8, bands=2,
    * r=4) chained into the exact-Jaccard verify — the general Lsh.scala
    * pipeline, driver-gated (q22 pins only the single-band special case).
    * The oracle recomputes the SAME mod-P affine minhashes (constants
    * inlined from Lsh.params) and forms candidates by band-slice equality;
    * the engine's bucket is xxhash64 of the slice, identical modulo hash
    * collisions (none on this deterministic corpus). */
  private val qBandedLsh = Q(
    "q37_banded_lsh",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sig = Lsh.signatures(docs, "doc_id", "text", n = 8, numHashes = 8)
      val cand = Lsh.candidatePairs(sig, "doc_id", numHashes = 8, bands = 2)
        .toDF("doc_a", "doc_b")
      // exact-Jaccard verify of the banded candidates — r7: the q27 array
      // shape (distinct-set arrays of the semi-filtered candidates,
      // broadcast pair join, row-local array_intersect) replaces the
      // (doc,h)-distinct shuffle + 3-way intersection join; the r6 plan
      // re-expanded the shingle subtree into 44 scans / 152 aggregates
      // (plans/r07/q37_banded_lsh_before.txt).
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .unionAll(cand.select(col("doc_b").as("doc_id"))).distinct()
      // semi-filter the RAW docs table BEFORE hashing (join placed below
      // the projection explicitly — the optimizer does not push joins
      // through projects), so only candidate docs are re-shingled here
      val sets = t(s, dir, "documents")
        .join(broadcast(candDocs), Seq("doc_id"), "leftsemi")
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          array_distinct(ShingleHashes.col(col("text"), 8)).as("set"))
        .select(col("doc_id"), col("set"), size(col("set")).cast("long").as("sz"))
      // exact INTEGER pair (|A∩B|, |A∪B|) rather than a rounded quotient:
      // n_inter/n_union lands on exact half-way decimals (e.g. 41/640 =
      // 0.0640625) where Spark's HALF_UP and DuckDB's rounding disagree
      cand
        .join(Ann.fetchSide(sets.toDF("doc_a", "set_a", "sz_a")), Seq("doc_a"))
        .join(Ann.fetchSide(sets.toDF("doc_b", "set_b", "sz_b")), Seq("doc_b"))
        .withColumn("n_inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
        .select(col("doc_a"), col("doc_b"), col("n_inter"),
          (col("sz_a") + col("sz_b") - col("n_inter")).as("n_union"))
        .orderBy("doc_a", "doc_b")
    },
    Some {
      val aggs = (0 until 8).map { j =>
        val (a, b) = Lsh.params(j)
        s"min((h % 1000003 * $a + $b) % 1000003) AS mh$j"
      }.mkString(", ")
      def bandEq(lo: Int): String =
        (lo until lo + 4).map(j => s"a.mh$j = b.mh$j").mkString("(", " AND ", ")")
      s"""WITH sig AS (SELECT doc_id, $aggs FROM ($shingles8Sql) GROUP BY doc_id),
         | cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b
         |  ON a.doc_id < b.doc_id AND (${bandEq(0)} OR ${bandEq(4)})),
         | sh AS (SELECT DISTINCT doc_id, h FROM ($shingles8Sql)),
         | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         | inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c
         |  JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b AND y.h = x.h
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT i.doc_a, i.doc_b, n_inter,
         | (sa.sz + sb.sz - n_inter) AS n_union
         |FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
         | JOIN sizes sb ON sb.doc_id = i.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    })

  private val qTextStats = Q(
    "q24_text_stats",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
        .withColumn(
          "n_the",
          ((length(col("text")) - length(regexp_replace(col("text"), lit(" the "), lit("")))) / lit(5)).cast("long"))
        .select(
          col("doc_id"),
          col("lang"),
          col("n_tokens"),
          col("n_the"),
          round(col("n_chars").cast("double") / col("n_tokens"), 6).as("chars_per_token"),
          when(col("n_the") > 0, lit("en")).otherwise(lit("other")).as("lang_guess"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang,
           | length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           | (length(text) - length(replace(text, ' the ', ''))) // 5 AS n_the,
           | round(CAST(n_chars AS DOUBLE) / length(regexp_split_to_array(trim(text), '\s+')), 6) AS chars_per_token,
           | CASE WHEN (length(text) - length(replace(text, ' the ', ''))) // 5 > 0
           |  THEN 'en' ELSE 'other' END AS lang_guess
           |FROM documents ORDER BY doc_id""".stripMargin))

  private val qNgrams = Q(
    "q25_ngram_top",
    (s, dir) => {
      // NOT hash-keyed, deliberately (r4, measured): unlike q39's
      // doc-level distinct, this groupBy's partial aggregation collapses
      // to the distinct (lang, gram) set BEFORE the exchange, so the
      // shuffle is tiny either way — re-keying on xxhash64(gram) only
      // adds a per-row hash over the full 5M-gram explode and measured
      // 2.95 vs 1.79 s warm best-of-5 at sf0.1. The q46/q39 rule is
      // about corpus-scale exchange KEYS; a combine-collapsed exchange
      // has none.
      // r7: spreadSmall — the explode + partial agg run inside the SCAN
      // stage, which is one partition for the gate's single small file;
      // measured 1.53 -> 0.62 s best-of-5 (same-JVM A/B, OPTIMIZATION_r07.md).
      // Identity at real scale (see Ann.spreadSmall).
      val docs = Ann.spreadSmall(t(s, dir, "documents").filter(length(col("text")) >= 3))
      val grams = docs
        .select(col("lang"), explode(sequence(lit(1), length(col("text")) - 2)).as("i"), col("text"))
        .select(col("lang"), expr("substring(text, i, 3)").as("gram"))
      val counts = grams.groupBy("lang", "gram").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("gram").asc)
      counts
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy("lang", "rank")
    },
    Some("""SELECT lang, gram, n, rank FROM (
           | SELECT lang, gram, n,
           |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram ASC) AS rank
           | FROM (SELECT lang, substr(text, i, 3) AS gram, count(*) AS n
           |       FROM documents, LATERAL unnest(generate_series(1, length(text) - 2)) AS t(i)
           |       WHERE length(text) >= 3 GROUP BY 1, 2))
           |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin))

  /** n-gram-profile language ID (the real heuristic, vs q24's one-token
    * guess): train = top-20 3-grams per language (tiny profile table,
    * broadcast); classify = distinct doc-grams ⋈ profile, argmax match
    * count per doc. Linear explode + small-window train + broadcast join:
    * the classic Cavnar-Trenkle shape a corpus-scale pipeline runs. Docs
    * sharing no profile gram are absent (symmetric on both engines).
    *
    * Both corpus-wide exchanges key on `xxhash64(gram)` — the q46 rule:
    * raw text fragments never enter a shuffle. The train groupBy carries
    * the gram STRING only as a min() aggregation value (needed for the
    * deterministic `gram asc` tie-break that decides which grams make the
    * top-20 — partial aggregation reduces it to one 3-char value per
    * distinct (lang, hash) before the exchange); the classify distinct
    * and the profile broadcast join are hash-only. */
  private val qLangId = Q(
    "q39_lang_id",
    (s, dir) => {
      // r7: spreadSmall — BOTH branches' gram explodes + partial aggs run
      // inside the scan stage (one partition at gate scale); measured
      // 3.55 -> 2.03 s best-of-5 (same-JVM A/B, OPTIMIZATION_r07.md).
      // Identity at real scale (see Ann.spreadSmall).
      val docs = Ann.spreadSmall(t(s, dir, "documents").filter(length(col("text")) >= 3))
      val grams = docs
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1), length(col("text")) - 2)).as("i"), col("text"))
        .select(col("doc_id"), col("lang"), expr("substring(text, i, 3)").as("gram"))
        .withColumn("ghash", xxhash64(col("gram")))
      val counts = grams.groupBy("lang", "ghash")
        .agg(count(lit(1)).as("n"), min("gram").as("gram"))
      val wp = Window.partitionBy("lang").orderBy(col("n").desc, col("gram").asc)
      val profile = counts.withColumn("r", row_number().over(wp)).filter(col("r") <= 20)
        .select(col("lang").as("profile_lang"), col("ghash"))
      // the train aggregation (for the profile broadcast) and the classify
      // distinct below are INDEPENDENT shuffle-map stages over the same
      // gram explode, so Spark runs them concurrently inside one job —
      // measured faster than every "cheaper" form that serializes them:
      // collecting the profile first, semi-filtering the stream on profile
      // grams, (r3, re-measured: 4.2 vs 5.7 s warm at sf0.1)
      // countDistinct after a broadcast profile join — and (r7, same-JVM
      // A/B in OPTIMIZATION_r07.md: 2.92 vs 4.17 s best-of-5) replacing the
      // distinct with a one-pass distinct-gram-hash kernel: the kernel removes
      // the corpus-wide distinct exchange, but its shuffle-free classify
      // side cannot START until the broadcast (the whole train branch)
      // finishes, and the lost overlap outweighs the exchange at every
      // scale where the profile fits a broadcast. Each alternative adds a
      // blocking dependency on the profile and loses more to stage
      // serialization than it saves in rows.
      val docGrams = grams.select("doc_id", "lang", "ghash").distinct()
      val scored = docGrams.join(broadcast(profile), Seq("ghash"))
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(count(lit(1)).as("matches"))
      val wd = Window.partitionBy("doc_id").orderBy(col("matches").desc, col("profile_lang").asc)
      scored.withColumn("r", row_number().over(wd)).filter(col("r") === 1)
        .select(col("doc_id"), col("lang"), col("profile_lang").as("lang_pred"),
          col("matches"), (col("profile_lang") === col("lang")).as("correct"))
        .orderBy("doc_id")
    },
    Some("""WITH grams AS (SELECT doc_id, lang, substr(text, i, 3) AS gram
           |  FROM documents, LATERAL unnest(generate_series(1, length(text) - 2)) AS t(i)
           |  WHERE length(text) >= 3),
           | counts AS (SELECT lang, gram, count(*) AS n FROM grams GROUP BY 1, 2),
           | profile AS (SELECT lang AS profile_lang, gram FROM (
           |   SELECT lang, gram,
           |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram ASC) AS r
           |   FROM counts) WHERE r <= 20),
           | docgrams AS (SELECT DISTINCT doc_id, lang, gram FROM grams),
           | scored AS (SELECT d.doc_id, d.lang, p.profile_lang, count(*) AS matches
           |   FROM docgrams d JOIN profile p ON d.gram = p.gram GROUP BY 1, 2, 3)
           |SELECT doc_id, lang, profile_lang AS lang_pred, matches,
           | (profile_lang = lang) AS correct
           |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
           |       ORDER BY matches DESC, profile_lang ASC) AS r FROM scored)
           |WHERE r = 1 ORDER BY doc_id""".stripMargin))

  private val qRoundtrip = Q(
    "q26_text_roundtrip",
    (s, dir) => {
      // the per-row invariant: text -> html wrap -> extract is byte-identical,
      // so hashing the round-tripped text must equal hashing the original
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          sha2(WrapExtract.col(col("text"),
            concat(lit("https://docs.example/"), col("doc_id"))), 256).as("text_sha256"),
          length(col("text")).as("n_bytes"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, sha256(text) AS text_sha256, length(text) AS n_bytes
           |FROM documents ORDER BY doc_id""".stripMargin))

  private val qStreamHourly = Q(
    "q40_stream_hourly",
    (s, dir) => Streaming.hourlyByType(s, s"$dir/events.parquet"),
    Some("""SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_epoch,
           | count(*) AS n, round(sum(value), 4) AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY event_type, hour_epoch""".stripMargin))

  private val qStreamSessions = Q(
    "q41_stream_sessions",
    (s, dir) => Streaming.sessionizeStream(s, s"$dir/events.parquet"),
    Some("""SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
           |FROM (SELECT user_id,
           |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) > 1800
           |  THEN 1 ELSE 0 END AS new_session
           | FROM events)
           |GROUP BY user_id ORDER BY user_id""".stripMargin))

  private val qStreamDedup = Q(
    "q42_stream_dedup",
    (s, dir) => Streaming.dedupStream(s, s"$dir/documents.parquet"),
    Some("""SELECT lang, count(DISTINCT text) AS n_unique
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  private val qStreamAttribution = Q(
    "q44_stream_interval_join",
    (s, dir) => Streaming.purchaseAttribution(s, s"$dir/events.parquet"),
    Some("""SELECT p.event_id AS p_id, p.user_id, epoch_us(v.ts) AS view_us,
           | epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
           |FROM events p JOIN events v
           | ON p.user_id = v.user_id
           | AND p.event_type = 'purchase' AND v.event_type = 'view'
           | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
           |ORDER BY p_id, view_us""".stripMargin))

  private val qDomainCap = Q(
    "q45_domain_cap",
    (s, dir) => {
      // per-domain document cap (every crawl pipeline caps docs/domain):
      // rank within source by (n_chars DESC, doc_id ASC), keep top 10.
      // Spark 4 plans the rank<=k filter as WindowGroupLimit — a PARTIAL
      // top-k runs before the exchange (asserted in PlanSpec), so at
      // 10^12 rows each map task ships at most k rows per domain.
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      t(s, dir, "documents")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("source", "rank", "doc_id", "n_chars")
        .orderBy("source", "rank")
    },
    Some("""SELECT source, rank, doc_id, n_chars FROM (
           | SELECT source, doc_id, n_chars,
           |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rank
           | FROM documents) WHERE rank <= 10 ORDER BY source, rank""".stripMargin))

  private val qRepetition = Q(
    "q46_repetition",
    (s, dir) => {
      // Gopher-style repetition quality: the share of the doc's word
      // bigrams taken by its single most frequent bigram (boilerplate and
      // looped generations score high). Per-doc grams never leave their
      // row until the (doc_id, gram-hash) count — raw grams stay out of
      // exchanges by hashing (same rule as q20).
      // tokenize ONCE in a projection, then filter/gram off the array —
      // filter and project are separate operators, so a split() in each
      // would run the tokenizer twice per row
      val grams = transform(
        sequence(lit(0), size(col("words")) - 2),
        i => xxhash64(concat_ws(" ",
          element_at(col("words"), i + 1), element_at(col("words"), i + 2))))
      // r7: spreadSmall — the bigram explode + partial agg run inside the
      // single-partition gate scan otherwise (see q25; identity at scale)
      val counts = Ann.spreadSmall(t(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .filter(size(col("words")) >= 2)
        .select(col("doc_id"), explode(grams).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      counts
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"),
          round(max("c").cast("double") / sum("c"), 6).as("top_share"),
          round(count(lit(1)).cast("double") / sum("c"), 6).as("distinct_frac"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
           | round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share,
           | round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_frac
           |FROM (
           | SELECT doc_id, g, count(*) AS c FROM (
           |  SELECT doc_id, words[i] || ' ' || words[i+1] AS g
           |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
           |   , LATERAL unnest(generate_series(1, len(words) - 1)) AS t(i)
           |  WHERE len(words) >= 2)
           | GROUP BY doc_id, g)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  private val qDecontam = Q(
    "q47_decontam",
    (s, dir) => {
      // benchmark decontamination: flag corpus docs sharing any 4-gram
      // with the benchmark set (doc_id < 5 here; a real benchmark is
      // similarly tiny next to the corpus). The benchmark's distinct gram
      // hashes BROADCAST, so the corpus side is one narrow scan + a
      // broadcast semi-ish join — the corpus never shuffles, which is the
      // whole decontamination story at 10^12 docs.
      val sh = shingles(s, dir)
      val bench = sh.filter(col("doc_id") < 5).select("h").distinct()
      sh.filter(col("doc_id") >= 5)
        .join(broadcast(bench), Seq("h"))
        .groupBy("doc_id")
        .agg(countDistinct("h").as("n_shared"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, count(DISTINCT h) AS n_shared
            |FROM ($shinglesSql) c
            |WHERE doc_id >= 5 AND h IN (SELECT h FROM ($shinglesSql) WHERE doc_id < 5)
            |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  private val qSplit = Q(
    "q48_dataset_split",
    (s, dir) => {
      // deterministic train/val/test split: a seeded LCG bucket per doc
      // (never random() — resumable, reproducible, joinable) with per-lang
      // stratification counts. Pure integer arithmetic, no hash-function
      // parity risk between engines; doc_id is reduced mod 1e9+7 FIRST so
      // the product stays < 2^63 for any 64-bit id (Spark would silently
      // wrap above ~3.5e9, DuckDB would error).
      val bucket = (col("doc_id") % lit(1000000007L) * lit(2654435761L) + lit(12345L)) % lit(100L)
      t(s, dir, "documents")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 4).as("avg_chars"))
        .orderBy("lang", "split")
    },
    Some("""SELECT lang, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
           | count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
           |FROM (SELECT *, (doc_id % 1000000007 * 2654435761 + 12345) % 100 AS b FROM documents)
           |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin))

  private val qLengthHist = Q(
    "q49_length_histogram",
    (s, dir) => {
      // corpus length distribution in power-of-two buckets — the profile
      // every pipeline computes before choosing packing/truncation limits.
      // Bucket = bit length - 1 via bin(), INTEGER-exact on both engines
      // (floor(log2(n)) would flip at exact powers of two when one
      // engine's log2 lands an ulp under the integer).
      val b = (length(bin(greatest(col("n_chars"), lit(1)))) - 1).cast("long")
      t(s, dir, "documents")
        .withColumn("bucket", b)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("bucket")
    },
    Some("""SELECT CAST(length(bin(greatest(n_chars, 1))) - 1 AS BIGINT) AS bucket,
           | count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
           |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin))

  /** DuckDB twin of Graph.pageRank over the synthetic link graph: the
    * fixed iteration count unrolls into one (contrib, rank) CTE pair per
    * round — all integer arithmetic, so no summation-order drift. */
  private def pageRankOracleSql(iters: Int): String = {
    val base = "(1000000000000 // (SELECT cnt FROM n))"
    val head =
      s"""n AS (SELECT count(*) AS cnt FROM documents),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13 + 1) % (SELECT cnt FROM n) AS dst
         |      FROM documents, LATERAL unnest(generate_series(0, 2)) AS t(k)),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT doc_id AS id, CAST($base AS BIGINT) AS rank,
         |        CAST(coalesce(od.outdeg, 0) AS BIGINT) AS outdeg
         |       FROM documents LEFT JOIN od ON doc_id = od.src)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (SELECT dst, CAST(sum(rank // outdeg) AS BIGINT) AS s
         |        FROM e JOIN r${i - 1} ON e.src = r${i - 1}.id GROUP BY dst),
         |r$i AS (SELECT r${i - 1}.id,
         |         CAST(15 * $base // 100 + 85 * coalesce(c$i.s, 0) // 100 AS BIGINT) AS rank,
         |         r${i - 1}.outdeg
         |        FROM r${i - 1} LEFT JOIN c$i ON r${i - 1}.id = c$i.dst)""".stripMargin
    }
    s"WITH ${(head +: rounds).mkString(",\n")}\nSELECT id, rank FROM r$iters ORDER BY id"
  }

  private val qPageRank = Q(
    "q52_pagerank",
    (s, dir) => {
      // domain-ranking shape (Graph.pageRank): deterministic synthetic
      // link graph over the docs (3 out-links per doc), 5 integer power
      // iterations — each round one equi-join + one agg, exact mass
      // accounting, no float summation order anywhere
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val nodes = docs.select(col("doc_id").as("id"))
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(array((0 to 2).map(k =>
            (col("doc_id") * 7 + k * 13 + 1) % n): _*)).as("dst"))
      Graph.pageRank(nodes, edges, iters = 5, nodeCount = Some(n)).orderBy("id")
    },
    Some(pageRankOracleSql(5)))

  /** DuckDB twin of Graph.connectedComponents over the q22 pair graph. */
  private def dupClustersOracleSql(iters: Int): String = {
    val aggs = MinhashParams.zipWithIndex.map { case ((a, b), j) =>
      s"min((h * $a + $b) % $P) AS mh$j"
    }.mkString(", ")
    val head =
      s"""sig AS (SELECT doc_id, $aggs FROM ($shingles8Sql) GROUP BY doc_id),
         |e AS (SELECT a.doc_id AS src, b.doc_id AS dst
         |      FROM sig a JOIN sig b
         |       ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.mh3 = b.mh3
         |       AND a.doc_id < b.doc_id),
         |u AS (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst AS a, src AS b FROM e),
         |l0 AS (SELECT doc_id AS id, doc_id AS component FROM documents)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""m$i AS (SELECT a, min(component) AS nmin FROM u JOIN l${i - 1} ON u.b = l${i - 1}.id GROUP BY a),
         |l$i AS (SELECT l${i - 1}.id,
         |         least(l${i - 1}.component, coalesce(m$i.nmin, l${i - 1}.component)) AS component
         |        FROM l${i - 1} LEFT JOIN m$i ON l${i - 1}.id = m$i.a)""".stripMargin
    }
    s"""WITH ${(head +: rounds).mkString(",\n")}
       |SELECT component, count(*) AS n_docs, min(id) AS min_doc, max(id) AS max_doc
       |FROM l$iters GROUP BY component HAVING count(*) > 1 ORDER BY component""".stripMargin
  }

  private val qDupClusters = Q(
    "q53_dup_clusters",
    (s, dir) => {
      // the conclusion of the near-dup pipeline: LSH candidate pairs
      // (q22's band join) become an undirected graph; the SCALE-PATH
      // star algorithm (Graph.connectedComponentsStar, O(log n) rounds
      // at any diameter) yields one canonical cluster id per doc. The
      // oracle runs 6-round min-label propagation: identical here
      // because full-signature candidate components are cliques
      // (diameter 1), the same full-probe-equality argument as q33/q34.
      // Output: the multi-doc clusters.
      // r7: signatures via the one-pass array kernel (see q21) — the sig
      // subtree appears twice in the edge self-join
      val sig = minhashSig(s, dir, 8)
      val keys = Seq("mh0", "mh1", "mh2", "mh3")
      val edges = sig.toDF("src" +: keys: _*)
        .join(sig.toDF("dst" +: keys: _*), keys)
        .filter(col("src") < col("dst"))
        .select("src", "dst")
      val nodes = t(s, dir, "documents").select(col("doc_id").as("id"))
      Graph.connectedComponentsStar(nodes, edges)
        .groupBy("component")
        .agg(count(lit(1)).as("n_docs"), min("id").as("min_doc"), max("id").as("max_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("component")
    },
    Some(dupClustersOracleSql(6)))

  private val qWarcIngest = Q(
    "q54_warc_ingest",
    (s, dir) => {
      // crawl-ingest end-to-end through the custom DataSource V2: docs
      // are framed into WARC-lite files (one per partition, executors
      // write through the Hadoop FS), read back via the connector, text
      // re-extracted and aggregated. The oracle computes the same
      // invariants straight from the documents table — framing, the
      // connector, and the html wrap/extract must all be lossless.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val warcDir =
        s"${publishRoot(s)}/graft_q54_warc_${tableFingerprint(dir, "documents")}"
      graft.core.Fs.publishOnce(warcDir, s.sparkContext.applicationId) { stage =>
        docs.repartitionByRange(4, col("doc_id"))
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            // STREAM records to the file — no partition-wide buffering
            val recs = it.map { r =>
              val id = r.getLong(0)
              val url = graft.synth.Pages.urlOf(id)
              (url, 1704067200000000L + id * 1000000L,
                graft.synth.Pages.htmlOf(r.getString(1), url))
            }
            if (recs.hasNext) {
              val pid = org.apache.spark.TaskContext.getPartitionId()
              graft.sources.WarcLite.write(f"$stage/part-$pid%05d.warc", recs)
            }
          }
      }
      s.read.format("graft.sources.WarcLiteSource").load(warcDir)
        .select(col("url"), col("warc_ts"),
          length(decode(col("html"), "UTF-8")).cast("long").as("html_chars"))
        .agg(count(lit(1)).as("n_records"),
          countDistinct(col("url")).as("n_urls"),
          sum("html_chars").as("total_chars"),
          // ORDER-INDEPENDENT, OVERFLOW-FREE timestamp check: xor of the
          // epoch-micro deltas. (The previous delta SUM overflowed Long
          // once replicated ids reached ~1e9 at sf1; xor still detects
          // any per-row ts corruption, at ANY scale.)
          bit_xor(unix_micros(col("warc_ts")) - lit(1704067200000000L)).as("ts_delta_xor"))
    },
    Some("""SELECT count(*) AS n_records,
           | count(DISTINCT 'https://site' || (doc_id % 97) || '.example/page/' || doc_id) AS n_urls,
           | CAST(sum(61 + length('https://site' || (doc_id % 97) || '.example/page/' || doc_id)
           |   + length(replace(replace(text, '&', '&amp;'), '<', '&lt;'))) AS BIGINT) AS total_chars,
           | bit_xor(CAST(doc_id * 1000000 AS BIGINT)) AS ts_delta_xor
           |FROM documents""".stripMargin))

  // --------------------------------------------------------------- embeddings ---

  private def embDims(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), explode(sequence(lit(1), size(col("embedding")))).as("i"), col("embedding"))
      .withColumn("x", element_at(col("embedding"), col("i")).cast("double"))
      .drop("embedding")

  private val embDimsSql =
    """SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      | FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)""".stripMargin

  private val qEmbStats = Q(
    "q30_emb_stats",
    (s, dir) =>
      embDims(s, dir)
        .groupBy("vec_id", "label")
        .agg(
          count(lit(1)).as("dims"),
          round(sqrt(sum(col("x") * col("x"))), 6).as("l2_norm"),
          round(avg(col("x")), 6).as("mean"))
        .orderBy("vec_id"),
    Some(s"""SELECT vec_id, label, count(*) AS dims,
            | round(sqrt(sum(x * x)), 6) AS l2_norm, round(avg(x), 6) AS mean
            | FROM ($embDimsSql) GROUP BY vec_id, label ORDER BY vec_id""".stripMargin))

  private val qAnn = Q(
    "q31_ann_cosine_topk",
    (s, dir) => {
      // engine form: broadcast the 3 query vectors and run the codegen'd
      // array cosine (functions/VecOps.CosineSim) in ONE narrow stage +
      // top-k window — NOT the dims-explode equi-join, which pushes
      // O(n·d) rows through a shuffle (400M rows at sf100) for a plain
      // per-pair dot product. The oracle keeps the dims-join SQL; values
      // match because the expression's left-to-right fold is the same sum
      // DuckDB computes, and ranking happens on the ROUNDED cosine so
      // cross-engine ulp drift cannot flip ranks (the q34 argument).
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val queries = vecs.filter(col("vec_id") < 3).toDF("q_id", "qvec")
      val sims = vecs.filter(col("vec_id") >= 3)
        .crossJoin(broadcast(queries))
        .select(col("q_id"), col("vec_id"),
          round(Ann.cosine(col("vec"), col("qvec")), 6).as("r_cos"))
      val w = Window.partitionBy("q_id").orderBy(col("r_cos").desc, col("vec_id").asc)
      sims
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy("q_id", "rank")
    },
    Some(s"""WITH dims AS (SELECT vec_id, i, x FROM ($embDimsSql)),
            | sims AS (
            |  SELECT q.vec_id AS q_id, d.vec_id AS vec_id,
            |   round(sum(q.x * d.x) / (sqrt(sum(q.x * q.x)) * sqrt(sum(d.x * d.x))), 6) AS r_cos
            |  FROM dims q JOIN dims d ON q.i = d.i
            |  WHERE q.vec_id < 3 AND d.vec_id >= 3
            |  GROUP BY 1, 2)
            |SELECT q_id, vec_id, r_cos, rank FROM (
            | SELECT q_id, vec_id, r_cos,
            |  row_number() OVER (PARTITION BY q_id ORDER BY r_cos DESC, vec_id ASC) AS rank
            | FROM sims) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin))

  private val qCentroids = Q(
    "q32_emb_centroids",
    (s, dir) =>
      embDims(s, dir)
        .groupBy("label", "i")
        .agg(avg("x").as("cx"), count(lit(1)).as("n"))
        .groupBy("label")
        .agg(
          max("n").as("n_vectors"),
          round(sqrt(sum(col("cx") * col("cx"))), 4).as("centroid_norm"))
        .orderBy("label"),
    Some(s"""SELECT label, max(n) AS n_vectors, round(sqrt(sum(cx * cx)), 4) AS centroid_norm
            | FROM (SELECT label, i, avg(x) AS cx, count(*) AS n
            |       FROM ($embDimsSql) GROUP BY label, i)
            | GROUP BY label ORDER BY label""".stripMargin))

  /** Embedding-cosine near-duplicate pairs: all (a, b) with cosine >= tau,
    * through the IVF-bucketed pair path — the shape that survives 10^9
    * vectors. Candidates come from Ann.ivfPairs' equi-join on cluster
    * (index side in its 1 nearest cluster, probe side fanned to nprobe
    * clusters); at the gate's full probe (nprobe == k) the candidate set
    * is exactly the (a < b) pair space, so results equal the brute-force
    * dims-join oracle regardless of where Lloyd's centroids land (the q33
    * argument). nprobe < k is the recall/cost knob at scale. */
  private val qEmbNearDup = Q(
    "q34_emb_neardup",
    (s, dir) => {
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val centroids = Ann.trainCentroids(vecs, k = 8, iters = 2)
      // r7: cosine from the per-vector norms ivfPairs now carries — one
      // dot product per pair instead of dot + two norm folds,
      // bit-identical (Ann.cosineFromNorms)
      Ann.ivfPairs(vecs, centroids, nprobe = 8)
        .select(col("a"), col("b"),
          round(Ann.cosineFromNorms(col("va"), col("vb"), col("na"), col("nb")), 6).as("r_cos"))
        .filter(col("r_cos") >= 0.44) // threshold on the ROUNDED value: the
        // raw double differs across engines by summation order at ~1e-15
        .orderBy("a", "b")
    },
    Some(s"""SELECT a, b, r_cos FROM (
            | SELECT l.vec_id AS a, r.vec_id AS b,
            |  round(sum(l.x * r.x) / (sqrt(sum(l.x * l.x)) * sqrt(sum(r.x * r.x))), 6) AS r_cos
            | FROM ($embDimsSql) l JOIN ($embDimsSql) r ON l.i = r.i AND l.vec_id < r.vec_id
            | GROUP BY 1, 2)
            |WHERE r_cos >= 0.44 ORDER BY a, b""".stripMargin))

  /** Int8 embedding quantization (the storage/serving compression step
    * before ANN serving): per-vector symmetric scale = max|x|,
    * q_i = floor(x_i·127/scale + 0.5). Pure narrow array expressions — no
    * dims explode, no shuffle beyond the output sort. All outputs are
    * integers (explicit floor form: round()'s half-way semantics differ
    * between engines, see q37 history). */
  private val qQuantize = Q(
    "q43_emb_quantize",
    (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("scale", expr("array_max(transform(v, x -> abs(x)))"))
        // all-zero vectors have no quantization (0/0 = NaN, whose BIGINT
        // cast differs between engines) — excluded symmetrically
        .filter(col("scale") > 0)
        .withColumn("q", expr("transform(v, x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT))"))
        .select(col("vec_id"),
          expr("CAST(floor(scale * 1000000 + 0.5) AS BIGINT)").as("scale_u"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)").as("q_sum"),
          expr("array_min(q)").as("q_min"),
          expr("array_max(q)").as("q_max"))
        .orderBy("vec_id"),
    Some("""WITH v AS (SELECT vec_id,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           | s AS (SELECT vec_id, v,
           |  list_max(list_transform(v, x -> abs(x))) AS scale FROM v),
           | q AS (SELECT vec_id, scale,
           |  list_transform(v, x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)) AS q
           |  FROM s WHERE scale > 0)
           |SELECT vec_id, CAST(floor(scale * 1000000 + 0.5) AS BIGINT) AS scale_u,
           | CAST(list_sum(q) AS BIGINT) AS q_sum,
           | CAST(list_min(q) AS BIGINT) AS q_min, CAST(list_max(q) AS BIGINT) AS q_max
           |FROM q ORDER BY vec_id""".stripMargin))

  /** BPE-ish subword token counting: vowel-run / consonant-run chunks via
    * regexp_extract_all (the whitespace token count lives in q24). */
  private val qSubwords = Q(
    "q35_subword_tokens",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          expr("regexp_extract_all(text, '[aeiou]+|[^aeiou\\\\s]+', 0)").as("pieces"))
        .select(col("doc_id"),
          size(col("pieces")).as("n_pieces"),
          size(array_distinct(col("pieces"))).as("n_distinct_pieces"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
           | length(regexp_extract_all(text, '[aeiou]+|[^aeiou\s]+')) AS n_pieces,
           | length(list_distinct(regexp_extract_all(text, '[aeiou]+|[^aeiou\s]+'))) AS n_distinct_pieces
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Multimodal pipeline gate: the deterministic media table (REAL
    * binary payloads — PNG images, WAV audio, length-framed PNG video —
    * with typed metadata) through feature extraction (partition-batched
    * real decode + hash-projected embedding of the decoded samples),
    * video frame sampling, metadata resize, and pixel-level
    * nearest-neighbour resize (decode -> resample -> re-encode) —
    * `engine/Multimodal.scala` + `core/Png.scala`/`Wav` made
    * driver-visible. The generator is seeded, so the oracle is a pinned
    * VALUES table (like q50's reference goldens). */
  private val qMultimodal = Q(
    "q38_multimodal",
    (s, dir) => {
      val media = Multimodal.generate(s, 300)
      val feats = Multimodal.extractFeatures(media, dim = 16).toDF()
      val byKind = feats.groupBy("kind").agg(
        count(lit(1)).as("n"),
        round(avg(element_at(col("feature"), 1).cast("double")), 5).as("f0"),
        round(avg(col("n_bytes")), 5).as("bytes"))
      val kindMetrics = byKind.select(expr(
        """stack(3,
          | concat('n_', kind), CAST(n AS DOUBLE),
          | concat('feat0_', kind), f0,
          | concat('bytes_', kind), bytes) AS (metric, value)""".stripMargin))
      val frames = Multimodal.sampleFrames(media, stride = 4).toDF()
      val frameMetrics = frames.agg(
        count(lit(1)).as("n_frames"),
        countDistinct("media_id").as("n_frame_media"),
        sum("frame_idx").as("frame_idx_sum"))
        .select(expr(
          """stack(3,
            | 'n_frames', CAST(n_frames AS DOUBLE),
            | 'n_frame_media', CAST(n_frame_media AS DOUBLE),
            | 'frame_idx_sum', CAST(frame_idx_sum AS DOUBLE)) AS (metric, value)""".stripMargin))
      val resized = Multimodal.resizeMeta(media.toDF(), maxSide = 96)
        .agg(sum(col("meta.width").cast("long") * col("meta.height")).as("area"))
        .select(expr("stack(1, 'resized_area_sum', CAST(area AS DOUBLE)) AS (metric, value)"))
      // pixel-level resize: decoded output dims drive the metric, so a
      // broken decode/re-encode cannot pass on metadata alone
      val pxResized = Multimodal.resizePixels(media, maxSide = 96).toDF()
        .filter(col("kind") === "image")
        .agg(sum(col("meta.width").cast("long") * col("meta.height")).as("px_area"))
        .select(expr(
          "stack(1, 'resized_px_area_sum', CAST(px_area AS DOUBLE)) AS (metric, value)"))
      kindMetrics.unionAll(frameMetrics).unionAll(resized).unionAll(pxResized)
        .orderBy("metric")
    },
    Some("""SELECT metric, CAST(value AS DOUBLE) AS value FROM (VALUES
           | ('bytes_audio', 1439.96), ('bytes_image', 15077.7), ('bytes_video', 3174.0),
           | ('feat0_audio', 171.006), ('feat0_image', 596.75415), ('feat0_video', 133.27181),
           | ('frame_idx_sum', 1600.0), ('n_audio', 100.0), ('n_frame_media', 100.0),
           | ('n_frames', 325.0), ('n_image', 100.0), ('n_video', 100.0),
           | ('resized_area_sum', 496464.0), ('resized_px_area_sum', 477264.0)) AS t(metric, value)
           |ORDER BY metric""".stripMargin))

  // --------------------------------------------------------------- relational ---

  private val qPricing = Q(
    "q01_pricing_agg",
    (s, dir) => {
      // exact integer-cents money sums (the q07/q08 rule, applied here
      // after the sf1 scale-up exposed the margin): a 10^7-row double sum
      // reaches magnitudes where its accumulated summation-order error
      // crosses the round(.,4) decimal, so cross-engine hash equality
      // becomes a coin flip exactly at the scales that matter. Quantities
      // are integer-valued doubles (sums exact) and stay as-is.
      val baseCents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val discCents =
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5).cast("long")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          (sum(baseCents) / 100.0).as("sum_base_price"),
          (sum(discCents) / 100.0).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
           | round(sum(l_quantity), 4) AS sum_qty,
           | CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
           | CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_disc_price,
           | round(avg(l_quantity), 6) AS avg_qty,
           | count(*) AS count_order
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
           |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin))

  private val qNationRevenue = Q(
    "q02_nation_revenue",
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      // integer-cents revenue (q07/q08 rule) — scale-proof sums
      val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
      orders
        .join(cust, orders("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .groupBy("n_name")
        .agg((sum(cents) / 100.0).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    },
    Some("""SELECT n_name,
           | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
           | count(*) AS n_orders
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin))

  private val qTopOrders = Q(
    "q03_top_order_per_customer",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 4).as("top_price"))
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS top_price FROM (
           | SELECT o_custkey, o_orderkey, o_totalprice,
           |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           | FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin))

  private val qRollup = Q(
    "q04_priority_rollup",
    (s, dir) =>
      // integer-cents total (q07/q08 rule): the rollup's grand-total row
      // sums EVERY order into one double — the first gate to flip when
      // the sf1 scale-up pushed sums past the round(.,4) error margin
      t(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
        .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .rollup("yr", "o_orderpriority")
        .agg(count(lit(1)).as("n"), (sum("cents") / 100.0).as("total"))
        .select(
          coalesce(col("yr"), lit(-1)).as("yr"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"),
          col("total"))
        .orderBy("yr", "priority"),
    Some("""SELECT coalesce(yr, -1) AS yr, coalesce(o_orderpriority, 'ALL') AS priority,
           | count(*) AS n,
           | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS total
           |FROM (SELECT year(o_orderdate) AS yr, o_orderpriority, o_totalprice FROM orders)
           |GROUP BY ROLLUP (yr, o_orderpriority) ORDER BY 1, 2""".stripMargin))

  private val qSessions = Q(
    "q05_event_sessions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn(
          "new_session",
          when(
            col("prev_ts").isNull ||
              (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800,
            1).otherwise(0))
        .groupBy("user_id")
        .agg(
          sum("new_session").as("n_sessions"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("total_value"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events,
           | round(sum(value), 4) AS total_value
           |FROM (SELECT user_id, value,
           |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) > 1800
           |  THEN 1 ELSE 0 END AS new_session
           | FROM events)
           |GROUP BY user_id ORDER BY user_id""".stripMargin))

  private val qEventHours = Q(
    "q06_event_type_hours",
    (s, dir) =>
      t(s, dir, "events")
        .withColumn("hour_epoch", (unix_timestamp(col("ts")) / 3600L).cast("long") * 3600L)
        .groupBy("event_type", "hour_epoch")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .filter(col("n") >= 3)
        .orderBy("event_type", "hour_epoch"),
    Some("""SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_epoch,
           | count(*) AS n, round(sum(value), 4) AS sum_value
           |FROM events GROUP BY 1, 2 HAVING count(*) >= 3
           |ORDER BY event_type, hour_epoch""".stripMargin))

  private val qBrandRevenue = Q(
    "q07_brand_revenue",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      // exact integer-cents revenue (see q08 note)
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
        .cast("long")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
          (sum(cents) / 100.0).as("revenue"),
          count(lit(1)).as("n_lines"),
          round(avg("p_retailprice"), 4).as("avg_retail"))
        .orderBy("p_brand", "p_type")
    },
    Some("""SELECT p_brand, p_type,
           | CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
           | count(*) AS n_lines, round(avg(p_retailprice), 4) AS avg_retail
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY p_brand, p_type ORDER BY p_brand, p_type""".stripMargin))

  private val qRegionSupplier = Q(
    "q08_region_supplier",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      // revenue summed as exact integer cents: a double sum over ~10^5
      // values per region differs between engines at the last ulp
      // (summation order), which flips a 4-decimal round; floor(x*100+0.5)
      // is computed identically per row on both engines and BIGINT
      // addition is exact, so the hash can never drift with scale
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
        .cast("long")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nation), sup("s_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name")
        .agg(
          (sum(cents) / 100.0).as("revenue"),
          countDistinct("s_suppkey").as("n_suppliers"),
          count(lit(1)).as("n_lines"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name,
           | CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
           | count(DISTINCT s_suppkey) AS n_suppliers, count(*) AS n_lines
           |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name ORDER BY r_name""".stripMargin))

  private val qIvf = Q(
    "q33_ann_ivf",
    (s, dir) => {
      // IVF at full probe must equal exact search — verified against the
      // independent brute-force SQL oracle
      val vectors = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val centroids = Ann.trainCentroids(vectors, k = 8, iters = 2)
      val index = Ann.assign(vectors, centroids)
      val queries = vectors.filter(col("vec_id").isin(5L, 6L, 7L))
        .select(col("vec_id").as("q_id"), col("vec").as("qvec"))
      val raw = Ann.ivfTopK(index, centroids, queries, k = 500000, nprobe = 8)
      // re-rank on rounded cosine for cross-engine determinism (as q31)
      val w = Window.partitionBy("q_id").orderBy(col("r_cos").desc, col("vec_id").asc)
      raw.select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("r_cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .orderBy("q_id", "rank")
    },
    Some(s"""WITH dims AS (SELECT vec_id, i, x FROM ($embDimsSql)),
            | sims AS (
            |  SELECT q.vec_id AS q_id, d.vec_id AS vec_id,
            |   round(sum(q.x * d.x) / (sqrt(sum(q.x * q.x)) * sqrt(sum(d.x * d.x))), 6) AS r_cos
            |  FROM dims q JOIN dims d ON q.i = d.i
            |  WHERE q.vec_id IN (5, 6, 7)
            |  GROUP BY 1, 2)
            |SELECT q_id, vec_id, r_cos, rank FROM (
            | SELECT q_id, vec_id, r_cos,
            |  row_number() OVER (PARTITION BY q_id ORDER BY r_cos DESC, vec_id ASC) AS rank
            | FROM sims) WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin))

  // --------------------------------------------------------------- raster ---
  // Driver-visible gates for the flagship raster path (G1-G6): the oracle is
  // a VALUES table of the REFERENCE's own pinned goldens
  // (/root/reference/tests/hgt/test_tile.py:66-103, tests/hgt/test_file.py:74-95),
  // so the driver's DuckDB compare re-checks exact reference parity.

  private val FixtureHgt = "/root/reference/tests/data/N43E006.hgt"

  private val qContourGolden = Q(
    "q50_contour_golden",
    (s, dir) => {
      // reference get_contours() parameters: step 20, no way split, no RDP
      val cfg = graft.core.JobConfig(
        contourStepSize = 20, maxNodesPerWay = 0, rdpEpsilon = None, maxNodesPerTile = 0)
      val cs = RasterPipeline.contours(RasterPipeline.tiles(s, Seq(FixtureHgt), cfg), cfg)
      cs.agg(
          sum("nbNodes").as("n_nodes"),
          count(lit(1)).as("n_ways"),
          countDistinct("elevation").as("n_levels"),
          min("elevation").cast("long").as("min_level"),
          max("elevation").cast("long").as("max_level"),
          sum(when(col("elevation") === 20, 1L).otherwise(0L)).as("ways_at_20"),
          sum(when(col("elevation") === 1920, 1L).otherwise(0L)).as("ways_at_1920"))
        .select(expr(
          """stack(7,
            | 'n_nodes', n_nodes, 'n_ways', n_ways, 'n_levels', n_levels,
            | 'min_level', min_level, 'max_level', max_level,
            | 'ways_at_20', ways_at_20, 'ways_at_1920', ways_at_1920
            |) AS (metric, value)""".stripMargin))
        .orderBy("metric")
    },
    Some("""SELECT metric, CAST(value AS BIGINT) AS value FROM (VALUES
           | ('n_nodes', 1264395), ('n_ways', 10798), ('n_levels', 97),
           | ('min_level', 0), ('max_level', 1920),
           | ('ways_at_20', 145), ('ways_at_1920', 1)) AS t(metric, value)
           |ORDER BY metric""".stripMargin))

  private val qChopGolden = Q(
    "q51_chop_golden",
    (s, dir) => {
      import s.implicits._
      val cfg = graft.core.JobConfig(contourStepSize = 20, maxNodesPerTile = 500000L)
      RasterPipeline.tiles(s, Seq(FixtureHgt), cfg)
        .map { tr =>
          val p = if (tr.path.startsWith("file:")) new java.net.URI(tr.path).getPath else tr.path
          val g = graft.core.Hgt.decode(
            graft.core.Fs.readAllBytes(p), cfg.voidMax)
          val gv = new graft.core.MarchingSquares.GridView(
            g.values, g.mask, tr.rowOff * tr.fullCols + tr.colOff, tr.fullCols, tr.rows, tr.cols)
          val (mn, mx) = graft.core.Chop.elevRange(gv)
          (tr.tileIdx.toLong, tr.rows.toLong, tr.cols.toLong,
            tr.minLon, tr.minLat, tr.maxLon, tr.maxLat, mn.toLong, mx.toLong)
        }
        .toDF("tile_idx", "n_rows", "n_cols", "min_lon", "min_lat", "max_lon", "max_lat",
          "min_elev", "max_elev")
        .select(col("tile_idx"), col("n_rows"), col("n_cols"),
          round(col("min_lon"), 6).as("min_lon"), round(col("min_lat"), 6).as("min_lat"),
          round(col("max_lon"), 6).as("max_lon"), round(col("max_lat"), 6).as("max_lat"),
          col("min_elev"), col("max_elev"))
        .orderBy("tile_idx")
    },
    Some("""SELECT CAST(tile_idx AS BIGINT) AS tile_idx, CAST(n_rows AS BIGINT) AS n_rows,
           | CAST(n_cols AS BIGINT) AS n_cols,
           | CAST(min_lon AS DOUBLE) AS min_lon, CAST(min_lat AS DOUBLE) AS min_lat,
           | CAST(max_lon AS DOUBLE) AS max_lon, CAST(max_lat AS DOUBLE) AS max_lat,
           | CAST(min_elev AS BIGINT) AS min_elev, CAST(max_elev AS BIGINT) AS max_elev
           |FROM (VALUES
           | (0, 601, 1201, 6.0, 43.0, 7.0, 43.5, -4, 770),
           | (1, 301, 1201, 6.0, 43.5, 7.0, 43.75, -12, 1703),
           | (2, 151, 1201, 6.0, 43.75, 7.0, 43.875, 327, 1908),
           | (3, 151, 1201, 6.0, 43.875, 7.0, 44.0, 317, 1923))
           | AS t(tile_idx, n_rows, n_cols, min_lon, min_lat, max_lon, max_lat, min_elev, max_elev)
           |ORDER BY tile_idx""".stripMargin))

  /** The production session_window operator (engine/Streaming.scala) in
    * its batch form, gated against a lag/cumulative-flag oracle: per-user
    * session count and totals plus the first/last event instants
    * recovered from the window bounds (session start = first event ts;
    * session end = last event + the 1800 s merge gap). This gate is what
    * pinned Spark's INCLUSIVE merge semantics (diff <= gap): sf0.01
    * carries a real truncated gap of exactly 1801 s, which a 1801 s
    * window wrongly merged and the 1800 s window correctly splits. */
  private val qSessionWindow = Q(
    "q55_session_window",
    (s, dir) =>
      Streaming.sessionWindows(t(s, dir, "events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").as("n_events"),
          unix_timestamp(min("session_start")).as("first_start"),
          (unix_timestamp(max("session_end")) - lit(1800L)).as("last_event"))
        .orderBy("user_id"),
    Some("""WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts FROM events),
           | f AS (SELECT user_id, ts,
           |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) > 1800
           |  THEN 1 ELSE 0 END AS new_s
           |  FROM e)
           |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events,
           | CAST(floor(min(epoch(ts))) AS BIGINT) AS first_start,
           | CAST(floor(max(epoch(ts))) AS BIGINT) AS last_event
           |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Pinned projection goldens for q56 (generated from the typed-map run,
    * quantized to integers — see qCrsProject scaladoc; the LAEA,
    * Albers (aea, EPSG:5070), and UPS (ups, EPSG:5041 — the polar
    * stereographic VARIANT-A branch, scale k0 at the pole) columns come
    * from independent Python transcriptions of the Snyder forms, so
    * Scala-side drift against them is a real signal). */
  private val CrsProjectOracleSql: String =
    """SELECT CAST(pt_id AS BIGINT) AS pt_id,
      | CAST(utm_e_tmm AS BIGINT) AS utm_e_tmm, CAST(utm_n_tmm AS BIGINT) AS utm_n_tmm,
      | CAST(l93_e_tmm AS BIGINT) AS l93_e_tmm, CAST(l93_n_tmm AS BIGINT) AS l93_n_tmm,
      | CAST(laea_e_tmm AS BIGINT) AS laea_e_tmm, CAST(laea_n_tmm AS BIGINT) AS laea_n_tmm,
      | CAST(etrs_e_tmm AS BIGINT) AS etrs_e_tmm, CAST(etrs_n_tmm AS BIGINT) AS etrs_n_tmm,
      | CAST(ps_e_tmm AS BIGINT) AS ps_e_tmm, CAST(ps_n_tmm AS BIGINT) AS ps_n_tmm,
      | CAST(aea_e_tmm AS BIGINT) AS aea_e_tmm, CAST(aea_n_tmm AS BIGINT) AS aea_n_tmm,
      | CAST(ups_e_tmm AS BIGINT) AS ups_e_tmm, CAST(ups_n_tmm AS BIGINT) AS ups_n_tmm,
      | CAST(rt_err_ndeg AS BIGINT) AS rt_err_ndeg
      |FROM (VALUES
      | (0, 2572945472, 47706778222, 9462010661, 62214518662, 39959666055, 22244614025, 2572945472, 47706778221, 41818869780, -33840089985, 67679843576, 62554662877, 25782286791, -34830665201, 0),
      | (1, 2632273841, 47771411725, 9516438441, 62283386094, 40020015455, 22308013918, 2632273841, 47771411724, 41800423523, -33740737096, 67647958770, 62636451251, 25840920487, -34745295199, 0),
      | (2, 2691493001, 47836092886, 9570746190, 62352296091, 40080254322, 22371474969, 2691493001, 47836092885, 41781823443, -33641501145, 67615995842, 62718169669, 25899357960, -34659898467, 0),
      | (3, 2750602790, 47900821745, 9624933874, 62421248562, 40140382467, 22434997042, 2750602790, 47900821744, 41763069774, -33542382287, 67583954962, 62799818020, 25957599268, -34574475285, 0),
      | (4, 2809603046, 47965598338, 9679001462, 62490243418, 40200399700, 22498580003, 2809603046, 47965598337, 41744162750, -33443380676, 67551836300, 62881396195, 26015644468, -34489025935, 0),
      | (5, 2868493604, 48030422701, 9732948919, 62559280569, 40260305832, 22562223717, 2868493604, 48030422700, 41725102604, -33344496467, 67519640024, 62962904082, 26073493618, -34403550699, 0),
      | (6, 2927274302, 48095294870, 9786776215, 62628359927, 40320100674, 22625928048, 2927274302, 48095294868, 41705889571, -33245729813, 67487366305, 63044341574, 26131146776, -34318049858, 0),
      | (7, 2985944975, 48160214878, 9840483315, 62697481401, 40379784037, 22689692860, 2985944975, 48160214876, 41686523885, -33147080867, 67455015313, 63125708560, 26188604001, -34232523692, 0),
      | (8, 3044505458, 48225182758, 9894070188, 62766644903, 40439355733, 22753518017, 3044505458, 48225182757, 41667005781, -33048549784, 67422587220, 63207004931, 26245865351, -34146972483, 0),
      | (9, 3102955587, 48290198544, 9947536800, 62835850342, 40498815572, 22817403382, 3102955587, 48290198542, 41647335492, -32950136716, 67390082197, 63288230578, 26302930885, -34061396511, 0),
      | (10, 3161295195, 48355262264, 10000883118, 62905097631, 40558163367, 22881348817, 3161295195, 48355262263, 41627513253, -32851841817, 67357500415, 63369385393, 26359800662, -33975796057, 0),
      | (11, 3219524116, 48420373950, 10054109110, 62974386680, 40617398929, 22945354185, 3219524115, 48420373949, 41607539298, -32753665238, 67324842047, 63450469266, 26416474742, -33890171402, 0)
      |) AS t(pt_id, utm_e_tmm, utm_n_tmm, l93_e_tmm, l93_n_tmm, laea_e_tmm, laea_n_tmm, etrs_e_tmm, etrs_n_tmm, ps_e_tmm, ps_n_tmm, aea_e_tmm, aea_n_tmm, ups_e_tmm, ups_n_tmm, rt_err_ndeg)
      |ORDER BY pt_id""".stripMargin

  /** Projection-series golden: forward coordinates in seven projections
    * of a deterministic probe lattice over the Toulon window, quantized
    * to tenth-millimeter INTEGERS (6+ orders of magnitude above any JVM
    * trig ulp drift, so the literals are portable), plus round-trip
    * closure in integer nanodegrees (must be 0). Runs as a typed Spark
    * map like every kernel; the oracle pins the values. */
  private val qCrsProject = Q(
    "q56_crs_project",
    (s, dir) => {
      import s.implicits._
      val pts = (0 until 12).map(i => (i.toLong, 6.02 + 0.07 * i, 43.05 + 0.06 * i))
      pts.toDF("pt_id", "lon", "lat").as[(Long, Double, Double)]
        .map { case (id, lon, lat) =>
          // UTM 32N, Lambert-93, LAEA Europe, ETRS89 UTM 32N, NSIDC polar
          // north, Conus Albers, UPS North (the variant A branch)
          val projs = Seq(32632, 2154, 3035, 25832, 3413, 5070, 5041)
            .map(graft.core.Crs.projection(_).get)
          val xy = projs.map(_.forward(lon, lat))
          val err = projs.zip(xy).flatMap { case (p, (x, y)) =>
            val (lon2, lat2) = p.inverse(x, y)
            Seq(lon2 - lon, lat2 - lat)
          }.map(math.abs).max
          val t = xy.flatMap { case (x, y) => Seq(x, y) }.map(v => math.rint(v * 10000).toLong)
          (id, t(0), t(1), t(2), t(3), t(4), t(5), t(6), t(7), t(8), t(9), t(10), t(11),
            t(12), t(13), math.round(err * 1e9))
        }
        .toDF("pt_id", "utm_e_tmm", "utm_n_tmm", "l93_e_tmm", "l93_n_tmm",
          "laea_e_tmm", "laea_n_tmm", "etrs_e_tmm", "etrs_n_tmm",
          "ps_e_tmm", "ps_n_tmm", "aea_e_tmm", "aea_n_tmm",
          "ups_e_tmm", "ups_n_tmm", "rt_err_ndeg")
        .orderBy("pt_id")
    },
    Some(CrsProjectOracleSql))

  /** Angle-banded EXACT cosine near-dup at the realistic high-threshold
    * regime (Ann.pairsAngleBanded): the corpus plus a deterministically
    * perturbed twin of every vector (v -> 0.999v + 0.0005, derived
    * identically in both engines), and the operator must recover exactly
    * the pairs with rounded cosine >= 0.98 — the injected twins plus any
    * natural ones. Exactness is the reverse triangle inequality (no
    * false negatives), spec-proven against brute force; the pruning is
    * data-dependent (strong on spread/manifold data, graceful on this
    * isotropic synthetic table — see the operator scaladoc for the
    * measured concentration-of-measure analysis). */
  private val qBandedCosine = Q(
    "q57_emb_neardup_banded",
    (s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val twins = base.select((col("vec_id") + lit(10000000L)).as("vec_id"),
        expr("transform(vec, x -> x * 0.999 + 0.0005)").as("vec"))
      val allVecs = base.unionByName(twins)
      // band with half-ulp-of-rounding slack: a RAW cosine of 0.9799996
      // rounds UP to 0.980000 and must not be pruned before the rounded
      // filter; extra candidates are harmless, missing ones are wrong
      Ann.pairsAngleBanded(allVecs, tau = 0.98 - 5e-7, bandWidthDeg = 11.5)
        .select(col("a"), col("b"), round(col("cos"), 6).as("r_cos"))
        .filter(col("r_cos") >= 0.98) // threshold on the ROUNDED value (q34 rule)
        .orderBy("a", "b")
    },
    Some(s"""WITH vecs AS (
            |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
            |  UNION ALL
            |  SELECT vec_id + 10000000,
            |   list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.999 + 0.0005) FROM embeddings),
            | d AS (SELECT vec_id, i, v[i] AS x
            |  FROM vecs, LATERAL unnest(generate_series(1, len(v))) AS t(i))
            |SELECT a, b, r_cos FROM (
            | SELECT l.vec_id AS a, r.vec_id AS b,
            |  round(sum(l.x * r.x) / (sqrt(sum(l.x * l.x)) * sqrt(sum(r.x * r.x))), 6) AS r_cos
            | FROM d l JOIN d r ON l.i = r.i AND l.vec_id < r.vec_id
            | GROUP BY 1, 2)
            |WHERE r_cos >= 0.98 ORDER BY a, b""".stripMargin))

  val all: Seq[Q] = Seq(
    qPricing, qNationRevenue, qTopOrders, qRollup, qSessions, qEventHours,
    qBrandRevenue, qRegionSupplier,
    qGeoCell, qGeoPip, qGeoKnn, qGeoKnnBatch, qGeoTiles, qGeoBands, qS2Cells,
    qS2PrunedScan, qSeqPack, qAsof,
    qDedupExact, qMinhash, qNearDup, qSimhash, qSimhashNearDup, qTextStats, qNgrams,
    qJaccard, qFingerprint, qQuality, qSubwords, qBandedLsh, qMultimodal, qLangId,
    qRoundtrip, qStreamHourly, qStreamSessions, qStreamDedup, qStreamAttribution,
    qDomainCap, qRepetition, qDecontam, qSplit, qLengthHist, qPageRank, qDupClusters,
    qWarcIngest,
    qEmbStats, qAnn, qCentroids, qIvf, qEmbNearDup, qQuantize,
    qContourGolden, qChopGolden,
    qSessionWindow, qCrsProject, qBandedCosine)
}
