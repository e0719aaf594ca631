package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.MarchingSquares.{GridView, Scratch}
import graft.sinks.{OsmXmlWriter, OsmXml, PreparedWay}

/** The distributed raster -> contour pipeline, re-expressing the reference's
  * fork-per-tile processor (/root/reference/pyhgtmap/hgt/processor.py) as
  * Spark stages:
  *
  *   binaryFile scan -> decode+chop (flatMap, executor-side recursion)
  *     -> Dataset[DemTileRow] (the tile IS the shuffle unit; upper chops
  *        keep one overlap row, the reference's stitching contract)
  *   -> repartitionByRange(key, tileIdx) -> trace kernel (mapPartitions)
  *     -> Dataset[ContourRow]
  *   -> per-tile counts -> driver prefix-sum -> deterministic node/way ids
  *     (reference reserves ranges via shared counters, processor.py:98-140;
  *     we pin the stronger sorted-tile order, SURVEY.md §4.3)
  *   -> per-tile OSM XML / o5m / PBF files (nodes first, ways buffered to
  *      done()), written by the trace stage's partitions: each tile's rows
  *      already sit in one of them, so the write adds no second exchange
  *
  * The only exchange moves spec rows (plus one count row per tile for the
  * prefix sum); contour coordinates never cross the network. At cluster
  * scale: files and tiles are independent units; the only driver
  * synchronization is the tiny per-tile count collect for the prefix sum.
  */
object RasterPipeline {

  /** Lightweight tile spec: the shuffle unit carries offsets into its
    * source file, NOT the grid data — executors re-read + decode the
    * (small, page-cached) source locally, so the range shuffle moves only
    * metadata rows. At 100 TB this is the difference between shuffling
    * terabytes of raster and shuffling kilobytes of specs. */
  final case class DemTileRow(
      key: String,
      tileIdx: Int,
      path: String,
      minLon: Double, minLat: Double, maxLon: Double, maxLat: Double, // native CRS
      rowOff: Int, rows: Int, colOff: Int, cols: Int,
      fullCols: Int,
      lonInc: Double, latInc: Double,
      epsg: Int = 4326,
      // true when the tile straddles a clip-polygon border (reference
      // checkPoly): the trace stage recomputes the cell mask; fully-inside
      // tiles skip it, fully-outside tiles were dropped at plan time
      checkPoly: Boolean = false,
      // user-defined CRS spec (GeoTIFF ProjectedCSTypeGeoKey = 32767);
      // non-empty wins over `epsg` in every Crs dispatch below
      spec: String = "")

  final case class ContourRow(
      key: String,
      tileIdx: Int,
      minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
      elevation: Int,
      pathIdx: Int,
      closed: Boolean,
      nbNodes: Int,
      coords: Array[Double])

  final case class TileOffsets(nodeStart: Long, wayStart: Long)

  /** Decode a DEM source (HGT or GeoTIFF) to (grid, native bbox, epsg).
    * GeoTIFF per reference init_as_geotiff (file.py:500-555); HGT per
    * init_as_hgt (file.py:449-498). */
  private def decodeDem(path: String, bytes: Array[Byte], voidMax: Int,
      smoothRatio: Double, feetSteps: Boolean,
      corrx: Double = 0.0, corry: Double = 0.0): (Grid, BBox, Int, String) = {
    val (raw, bbox0, epsg, spec) =
      if (Tiff.isTiff(path)) {
        val t = Tiff.decode(bytes, voidMax)
        // corrx/corry are WGS84 corrections; the reference round-trips
        // them through the CRS for projected sources (file.py:218-242) —
        // identity for 4326, and unsupported here for non-4326 (loud)
        val b = t.bbox
        require(t.epsg == 4326 || (corrx == 0.0 && corry == 0.0),
          "--corrx/--corry on non-4326 sources is unsupported")
        (t.grid, BBox(b.minLon + corrx, b.minLat + corry, b.maxLon + corrx, b.maxLat + corry),
          t.epsg, t.spec)
      } else
        (Hgt.decode(bytes, voidMax), Hgt.parseHgtFilename(path, corrx, corry), 4326, "")
    val zoomed = if (smoothRatio != 1.0) Resample.zoom(raw, smoothRatio) else raw
    val grid = if (feetSteps) Hgt.toFeet(zoomed) else zoomed
    (grid, bbox0, epsg, spec)
  }

  /** Cell mask of a tile slice vs the WGS84 clip polygons, CRS-aware.
    * Both strategies keep polygonMask's row-major per-axis factorization
    * (the grids are uniform in their OWN CRS), moving the reprojection to
    * whichever side is small:
    * - axis-separable source (4326/3857): reproject the grid AXES to
    *   lon/lat (lon = g(x), lat = h(y) holds) and test the polygons where
    *   they live — O(rows+cols) transforms;
    * - projected source (UTM/LCC/OSGB, where meridian convergence mixes
    *   axes): reproject the POLYGONS into the file CRS — per-vertex after
    *   densifying edges (Crs.densifyReproject; straight lon/lat edges
    *   curve under the projection) — and test on the native uniform axes.
    *   The polygon is small and broadcast; the raster never reprojects.
    *   PIP itself is CRS-agnostic. Reference polygon_mask instead
    *   transforms the whole meshgrid (file.py:310-365) — same semantics,
    *   O(polygon) instead of O(raster) transform work. */
  private def sliceMask(bbox: BBox, rows: Int, cols: Int, lonInc: Double, latInc: Double,
      epsg: Int, spec: String, polygons: Seq[Array[Double]]): Geometry.MaskResult = {
    val xs = Array.tabulate(cols)(c => bbox.minLon + c * lonInc)
    val ys = Array.tabulate(rows)(r => bbox.maxLat - r * latInc)
    Crs.projection(epsg, spec) match {
      case None => Geometry.polygonMask(xs, ys, polygons)
      case Some(p) if p.axisSeparable =>
        Geometry.polygonMask(xs.map(x => p.inverse(x, 0.0)._1),
          ys.map(y => p.inverse(0.0, y)._2), polygons)
      case Some(_) =>
        // bboxExpand mirrors the reference's 0.1-degree clip margin in
        // this CRS's meters (the exact value only needs to be >= 0)
        Geometry.polygonMask(xs, ys, nativePolys(epsg, spec, polygons),
          bboxExpand = 0.1 * 111320.0)
    }
  }

  /** Densified clip polygons in the file CRS, memoized per (epsg,
    * polygon content) per JVM: sliceMask runs once per slice at plan
    * time and once per border tile at trace time, and a national-scale
    * clip ring densifies to 1e4-1e5 vertices each paying a TM/LCC
    * forward — identical work per tile without the memo. Content-hash
    * key (not identity): each task deserializes its own closure copy of
    * the polygons. The cache holds a handful of entries (one per clip
    * config per CRS actually seen by this executor). */
  private val nativePolyCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[Array[Double]]]()
  private def nativePolys(epsg: Int, spec: String,
      polygons: Seq[Array[Double]]): Seq[Array[Double]] = {
    var h = 1125899906842597L
    polygons.foreach { poly =>
      var i = 0
      while (i < poly.length) {
        h = h * 31 + java.lang.Double.doubleToLongBits(poly(i))
        i += 1
      }
      h = h * 31 + poly.length
    }
    nativePolyCache.computeIfAbsent((s"$epsg|$spec", h), _ => {
      val p = Crs.projection(epsg, spec).get
      polygons.map(poly => Crs.densifyReproject(poly, p.forward))
    })
  }

  /** The clip polygons to apply for a source in `epsg`, folding `--area`
    * in for non-axis-separable CRSs: their grid cannot be cropped by
    * index on a WGS84 rect (meridian convergence tilts it), so the rect
    * becomes a mask polygon riding the same densify-reproject path as
    * --poly — cell-exact, strictly better than the reference's
    * corner-only reverseTransform (file.py:580-587). With --poly AND
    * --area, the polygons are clipped to the rect (intersection — the
    * area crops, never extends). Deterministic in (cfg, epsg): the plan
    * stage (tiles) and the trace stage (contours) derive identical
    * masks from it. */
  private def effectiveClip(cfg: JobConfig, epsg: Int,
      spec: String): Option[Seq[Array[Double]]] =
    cfg.area match {
      case Some(a) if !Crs.projection(epsg, spec).forall(_.axisSeparable) =>
        val rect = Crs.areaRectPolygon(a)
        cfg.polygons match {
          case None => Some(Seq(rect))
          case Some(ps) => Some(ps.flatMap(p =>
            Geometry.clipToRect(p, rect(0), rect(1), rect(4), rect(5))))
        }
      case _ => cfg.polygons
    }

  /** Scan + decode + chop: one lightweight spec row per tile. Clip-polygon
    * semantics follow the reference's make_tiles (file.py:732-768): tiles
    * fully outside the polygons are dropped here; border tiles are flagged
    * checkPoly and masked cell-wise at trace time. */
  def tiles(spark: SparkSession, paths: Seq[String], cfg: JobConfig): Dataset[DemTileRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(paths: _*)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val key = path.split('/').last.replaceAll("\\.(hgt|tif|tiff)$", "")
        val (grid, bbox, epsg, spec) =
          decodeDem(path, bytes, cfg.voidMax, cfg.smoothRatio, cfg.feetSteps, cfg.corrx, cfg.corry)
        val lonInc = (bbox.maxLon - bbox.minLon) / (grid.cols - 1)
        val latInc = (bbox.maxLat - bbox.minLat) / (grid.rows - 1)
        // native crop rect: exact for separable CRSs, envelope-superset
        // for projected ones (the area mask below trims it cell-exact)
        val nativeArea = cfg.area.map(a => Crs.nativeAreaString(a, epsg, spec))
        val start = Chop.truncate(nativeArea, bbox, grid.rows, grid.cols, lonInc, latInc)
        val slices = Chop.chop(grid, start, latInc, cfg.contourStepSize, cfg.maxNodesPerTile)
        val clip = effectiveClip(cfg, epsg, spec)
        slices.zipWithIndex.flatMap { case (s, idx) =>
          val checkPoly = clip match {
            case None => Some(false)
            case Some(polys) =>
              sliceMask(s.bbox, s.rows, s.cols, lonInc, latInc, epsg, spec, polys) match {
                case Geometry.AllOutside => None // drop: tile outside every polygon
                case Geometry.AllInside => Some(false)
                case _: Geometry.Mixed => Some(true)
              }
          }
          checkPoly.map { cp =>
            DemTileRow(key, idx, path, s.bbox.minLon, s.bbox.minLat, s.bbox.maxLon, s.bbox.maxLat,
              s.rowOff, s.rows, s.colOff, s.cols, grid.cols, lonInc, latInc, epsg, cp, spec)
          }
        }
      }
  }

  /** The decoded-grid cache's bound in MB from `SPARK_GRAFT_GRID_CACHE_MB`;
    * unset means 2048. Takes the environment as a map so it can be tested
    * without touching the process environment. */
  private[graft] def gridCacheMb(env: Map[String, String] = sys.env): Int =
    Env.positiveInt("SPARK_GRAFT_GRID_CACHE_MB", env).getOrElse(2048)

  /** Executor-global decoded-grid cache: every task in the executor JVM
    * shares it, so each source file is read+decoded once per executor even
    * when salted partitioning interleaves files across tasks (the re-read
    * storm otherwise costs more than the trace at high parallelism).
    * Bounded LRU; entries are immutable Grids so sharing is safe. */
  private object GridCache {
    // bounded by estimated BYTES, not entry count: a smoothRatio-zoomed
    // SRTM1 grid is rows*cols*(2B values + 1B mask + overhead) ~ 5B/cell,
    // so counting entries could exceed executor heap at high ratios.
    // Lazy, and read first thing in grid(): a malformed value then fails
    // every task with its name, not the object initializer once and
    // NoClassDefFoundError on the tasks after it.
    private lazy val MaxBytes = gridCacheMb().toLong << 20
    private def est(g: Grid): Long = g.rows.toLong * g.cols * 5L
    private var bytes = 0L
    private val cache = new java.util.LinkedHashMap[String, Grid](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Grid]): Boolean = {
        val evict = size() > 1 && bytes > MaxBytes
        if (evict) bytes -= est(e.getValue)
        evict
      }
    }
    def grid(path: String, voidMax: Int, smoothRatio: Double, feetSteps: Boolean): Grid = {
      MaxBytes
      val key = s"$path|$voidMax|$smoothRatio|$feetSteps"
      cache.synchronized {
        val hit = cache.get(key)
        if (hit != null) return hit
      }
      // Hadoop FS read: source rasters live on the cluster FS, not on a
      // shared POSIX mount; binaryFile scan paths carry their scheme
      val bytesIn = graft.core.Fs.readAllBytes(path)
      val (g, _, _, _) = decodeDem(path, bytesIn, voidMax, smoothRatio, feetSteps)
      cache.synchronized {
        // re-check under the lock: concurrent misses on the same key would
        // otherwise each add est(g) while put() keeps only one entry,
        // permanently inflating the byte counter until the cache thrashes
        val winner = cache.get(key)
        if (winner != null) return winner
        bytes += est(g)
        cache.put(key, g)
      }
      g
    }
  }

  /** Trace contours per tile; explicit range-partitioned shuffle on the
    * tile key so each tile is processed exactly once, co-located. The
    * writer relies on this: every row of a tile leaves in one partition,
    * and writeOsmXml writes the tile there without another exchange. */
  def contours(tilesDs: Dataset[DemTileRow], cfg: JobConfig, partitions: Int = 0): Dataset[ContourRow] = {
    val spark = tilesDs.sparkSession
    import spark.implicits._
    val parts = if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    val voidMax = cfg.voidMax
    val smoothRatio = cfg.smoothRatio
    val feetSteps = cfg.feetSteps
    // explicit range-partitioned shuffle with a deterministic hash salt as
    // the leading key: per-tile trace cost is spatially correlated (all-sea
    // vs all-mountain neighbours), so pure (key, tileIdx) ranges produce
    // straggler partitions; the salt spreads hot regions evenly while
    // keeping assignment fully deterministic for checkpoint/resume
    tilesDs
      .repartitionByRange(parts, pmod(xxhash64(col("key"), col("tileIdx")), lit(1 << 20)),
        col("key"), col("tileIdx"))
      .sortWithinPartitions("path", "tileIdx") // group same-file tiles -> one decode
      .mapPartitions { it =>
        val scratch = new Scratch
        it.flatMap { tr =>
          val g = GridCache.grid(tr.path, voidMax, smoothRatio, feetSteps)
          val base = tr.rowOff * tr.fullCols + tr.colOff
          // checkPoly: OR the polygon-outside mask into (a copy of) the
          // void mask for this tile's window — outside-polygon cells trace
          // like voids, the reference's border-tile semantics
          val clip = if (tr.checkPoly) effectiveClip(cfg, tr.epsg, tr.spec) else None
          val mask: Array[Boolean] =
            if (clip.isDefined) {
              sliceMask(BBox(tr.minLon, tr.minLat, tr.maxLon, tr.maxLat),
                tr.rows, tr.cols, tr.lonInc, tr.latInc, tr.epsg, tr.spec, clip.get) match {
                case Geometry.Mixed(pm) =>
                  val m = if (g.mask != null) g.mask.clone() else new Array[Boolean](g.values.length)
                  var r = 0
                  while (r < tr.rows) {
                    var c = 0
                    while (c < tr.cols) {
                      if (pm(r * tr.cols + c)) m(base + r * tr.fullCols + c) = true
                      c += 1
                    }
                    r += 1
                  }
                  m
                case Geometry.AllOutside => // possible under re-chop drift; mask all
                  val m = new Array[Boolean](g.values.length)
                  java.util.Arrays.fill(m, true)
                  m
                case Geometry.AllInside => g.mask
              }
            } else g.mask
          val gv = new GridView(g.values, mask, base, tr.fullCols, tr.rows, tr.cols)
          val bbox = BBox(tr.minLon, tr.minLat, tr.maxLon, tr.maxLat)
          // F10: non-4326 sources trace in native grid space; paths are
          // reprojected to WGS84 before RDP/split (reference order), and
          // the emitted row bbox is the reprojected tile bbox
          val proj = Crs.projection(tr.epsg, tr.spec)
          val tc = ContourGen.tileContours(gv, bbox, tr.lonInc, tr.latInc, cfg, scratch, proj)
          // envelope, not the strict aligned-rectangle transform: UTM tiles
          // tilt under reprojection and the row bbox is naming metadata
          val obox = proj.map(p => Crs.envelopeBBox(bbox, p.inverse)).getOrElse(bbox)
          val (oMinLon, oMinLat, oMaxLon, oMaxLat) =
            (obox.minLon, obox.minLat, obox.maxLon, obox.maxLat)
          tc.contours.iterator.flatMap { lc =>
            lc.paths.iterator.zipWithIndex.map { case (p, i) =>
              val n = p.length / 2
              val closed = n >= 2 && p(0) == p(2 * (n - 1)) && p(1) == p(2 * (n - 1) + 1)
              ContourRow(tr.key, tr.tileIdx, oMinLon, oMinLat, oMaxLon, oMaxLat,
                lc.elevation, i, closed, if (closed) n - 1 else n, p)
            }
          }
        }
      }
  }

  /** One (key, tileIdx, nodes, ways) row per contour path. */
  private def pathCounts(contoursDs: Dataset[ContourRow]): DataFrame =
    contoursDs.select(col("key"), col("tileIdx"), col("nbNodes").cast("long").as("nodes"),
      lit(1L).as("ways"))

  /** Per-tile (nodes, ways) sums of `counts` collected to the driver:
    * one row per tile, never raster data. The deterministic prefix sum it
    * feeds (see prefixSum) is the id contract that makes resume
    * byte-identical, and the map it produces is broadcast to the writers.
    * Envelope: ~48 B/tile, so 10^7 tiles (a full-planet 100 TB DEM corpus
    * at 1-degree tiling) is ~0.5 GB of rows; runResumable holds more
    * per-tile state beside it (see there). */
  private def tileCounts(counts: DataFrame): Seq[((String, Int), (Long, Long))] =
    counts
      .groupBy("key", "tileIdx")
      .agg(sum("nodes"), sum("ways"))
      .collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toSeq

  /** Deterministic prefix sum over per-tile counts in (key, tileIdx)
    * order — THE id contract byte-identical resume depends on; both the
    * fresh-run and resume paths must walk it identically, so they share
    * this one implementation. */
  private def prefixSum(
      counts: Seq[((String, Int), (Long, Long))], cfg: JobConfig): Map[(String, Int), TileOffsets] = {
    var nodeId = cfg.startNodeId
    var wayId = cfg.startWayId
    counts.sortBy(_._1).map { case (k, (nodes, ways)) =>
      val off = TileOffsets(nodeId, wayId)
      nodeId += nodes
      wayId += ways
      k -> off
    }.toMap
  }

  /** Deterministic global id offsets: per-tile counts -> driver prefix sum
    * in (key, tileIdx) order. The reference only guarantees non-overlap
    * (tests/hgt/test_processor.py:105-130); this is strictly stronger. */
  def idOffsets(contoursDs: Dataset[ContourRow], cfg: JobConfig): Map[(String, Int), TileOffsets] =
    prefixSum(tileCounts(pathCounts(contoursDs)), cfg)

  /** The writer's input order. Single-output mode (reference
    * processor.py:273-336): one file over the global bbox, ALL nodes
    * before ALL ways, tiles serialized through one partition
    * (parallelization disabled, as in the reference). The per-tile path
    * adds no exchange: contours() range-partitions on the tile key, so
    * each tile's rows already sit in one partition, and the writer runs on
    * the trace stage's partitions. */
  private[engine] def arrangeForWrite(contoursDs: Dataset[ContourRow], single: Boolean): Dataset[ContourRow] =
    (if (single) contoursDs.coalesce(1) else contoursDs)
      .sortWithinPartitions("key", "tileIdx", "elevation", "pathIdx")

  /** Write one OSM XML file per tile under outDir. Returns files written. */
  def writeOsmXml(
      contoursDs: Dataset[ContourRow],
      offsets: Map[(String, Int), TileOffsets],
      outDir: String,
      cfg: JobConfig,
      singleFileName: Option[String] = None,
      commit: Boolean = false,
      format: String = graft.sinks.TileSink.OsmXmlFormat,
      singleBBox: Option[BBox] = None): Seq[String] = {
    val spark = contoursDs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(offsets)
    val major = cfg.lineCatsMajor
    val medium = cfg.lineCatsMedium
    val osmV = cfg.osmVersion
    val ts = cfg.writeTimestamp
    val pfx = cfg.outputPrefix.getOrElse("")
    val single = singleFileName
    // the guards below fail the write, naming the tile, if the per-tile
    // path meets a Dataset that splits a tile across partitions
    val written = arrangeForWrite(contoursDs, single.isDefined)
      .mapPartitions { it =>
        val classifier: Long => String = e => Levels.elevClassifier(major, medium)(e.toInt)
        var curKey: (String, Int) = null
        var writer: graft.sinks.TileSink = null
        var nodeId = 0L
        var nodeStart = 0L
        var ways = scala.collection.mutable.ArrayBuffer.empty[PreparedWay]
        var wayStart = Long.MinValue
        var fileName: String = null
        var t0 = 0L
        val written = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
        val closedTiles = scala.collection.mutable.HashSet.empty[(String, Int)]
        def close(): Unit = if (writer != null) {
          writer.finish(ways.toSeq, wayStart, classifier)
          written += ((fileName, curKey._1, curKey._2))
          closedTiles += curKey
          if (commit && single.isEmpty) Checkpoint.writeCommit(outDir, Checkpoint.Commit(
            curKey._1, curKey._2, nodeId - nodeStart, ways.size.toLong, fileName,
            (System.nanoTime() - t0) / 1000000L))
          writer = null
          ways = scala.collection.mutable.ArrayBuffer.empty[PreparedWay]
        }
        it.foreach { row =>
          val k = (row.key, row.tileIdx)
          if (k != curKey) {
            if (single.isEmpty) {
              close()
              if (closedTiles.contains(k)) throw new IllegalStateException(
                s"tile $k reappears in a write partition after its file was closed; " +
                  "its rows must arrive contiguously")
              val off = bc.value(k)
              nodeId = off.nodeStart
              nodeStart = off.nodeStart
              wayStart = off.wayStart
              t0 = System.nanoTime()
              val bbox = BBox(row.minLon, row.minLat, row.maxLon, row.maxLat)
              fileName = s"$outDir/${graft.sinks.TileSink.fileName(bbox, row.key, format, pfx)}"
              writer = graft.sinks.TileSink.open(fileName, bbox, format, osmV, ts)
            } else {
              // one writer for the whole run: global bbox = union of tiles
              val off = bc.value(k)
              if (writer == null) {
                nodeId = off.nodeStart
                nodeStart = off.nodeStart
                t0 = System.nanoTime()
                fileName = s"$outDir/${single.get}"
                val globalBBox = singleBBox.getOrElse(
                  BBox(row.minLon, row.minLat, row.maxLon, row.maxLat))
                writer = graft.sinks.TileSink.open(fileName, globalBBox, format, osmV, ts)
              }
              require(nodeId == off.nodeStart,
                s"single-output tiles must arrive in id order: at $k expected ${off.nodeStart}, have $nodeId")
              if (wayStart == Long.MinValue) wayStart = off.wayStart
            }
            curKey = k
          }
          val (next, way) = writer.writePath(row.coords, nodeId, row.elevation.toLong)
          nodeId = next
          ways += way
        }
        close()
        written.iterator
      }
      .collect()
    // a file reported twice was written by two partitions, each with part
    // of a tile's rows: the later close overwrote the earlier one
    written.groupBy(_._1).foreach { case (file, ws) =>
      if (ws.length > 1) throw new IllegalStateException(
        s"tile ${(ws.head._2, ws.head._3)} was written by ${ws.length} partitions to $file; " +
          "the contours Dataset must hold each tile's rows in one partition")
    }
    written.map(_._1).toSeq.sorted
  }

  /** Single-output mode (reference --max-nodes-per-tile 0,
    * processor.py:273-336): every input merges into ONE file named from
    * the union bbox, all nodes before all ways, contiguous global ids.
    * Not resumable (one file = one commit unit), same as the reference. */
  def runSingle(spark: SparkSession, paths: Seq[String], outDir: String, cfg: JobConfig,
      format: String = graft.sinks.TileSink.OsmXmlFormat): Seq[String] = {
    graft.core.Fs.mkdirs(outDir)
    // persist the spec rows: both the contour stage and the union-bbox
    // collect need them, and tiles() re-decodes every DEM otherwise
    val ts = tiles(spark, paths, cfg).persist()
    val cs = contours(ts, cfg).persist()
    try {
      val offs = idOffsets(cs, cfg)
      // union in WGS84: DemTileRow bboxes are native-CRS, so reproject
      // non-4326 tiles before the union (the per-tile path does the same
      // via ContourRow's reprojected bbox). The reprojection runs on the
      // executors and only the 4-double min/max union reaches the driver,
      // so this stays O(1) driver memory at any tile count.
      import spark.implicits._
      val unionRow = ts.map { t =>
        val b = BBox(t.minLon, t.minLat, t.maxLon, t.maxLat)
        val w = Crs.projection(t.epsg, t.spec)
          .map(p => Crs.envelopeBBox(b, p.inverse)).getOrElse(b)
        (w.minLon, w.minLat, w.maxLon, w.maxLat)
      }.toDF("minLon", "minLat", "maxLon", "maxLat")
        .agg(min("minLon"), min("minLat"), max("maxLon"), max("maxLat"))
        .collect()(0)
      require(!unionRow.isNullAt(0), "no tiles to write")
      val union = BBox(unionRow.getDouble(0), unionRow.getDouble(1),
        unionRow.getDouble(2), unionRow.getDouble(3))
      val name = graft.sinks.TileSink.fileName(union, "", format, cfg.outputPrefix.getOrElse(""))
      writeOsmXml(cs, offs, outDir, cfg,
        singleFileName = Some(name), format = format, singleBBox = Some(union))
    } finally {
      cs.unpersist()
      ts.unpersist()
    }
  }

  final case class RunReport(
      tilesTotal: Int, tilesSkipped: Int, tilesWritten: Int, files: Seq[String])

  /** Resumable run: tiles with a commit record are skipped; id offsets are
    * rebuilt from committed counts + freshly traced counts, so a resumed
    * run emits byte-identical files to a fresh one. Also replaces the
    * metrics table (one row per commit record) and the lineage table
    * (input tile -> file) under outDir/_meta.
    *
    * Driver envelope: O(tiles). The driver holds every tile's counts (the
    * one collect, which also gives tilesTotal), the offsets map broadcast
    * to the writers, the commit records read before and after the write
    * (each carrying its output path), and the `_meta` rows written from
    * them. With JVM object overheads that is an estimated ~1 KB per tile,
    * ~10 GB at 10^7 tiles: past a few million tiles a run needs a large
    * driver, or a distributed prefix sum (window over (key, tileIdx) plus
    * a join back) and distributed `_meta` writes. */
  def runResumable(spark: SparkSession, paths: Seq[String], outDir: String, cfg: JobConfig,
      format: String = graft.sinks.TileSink.OsmXmlFormat): RunReport = {
    graft.core.Fs.mkdirs(outDir)
    val committed = Checkpoint.readCommits(outDir)
    val committedKeys = committed.map(c => (c.key, c.tileIdx)).toSet
    val bcCommitted = spark.sparkContext.broadcast(committedKeys)
    val tilesAll = tiles(spark, paths, cfg).persist()
    val todo = tilesAll.filter(t => !bcCommitted.value.contains((t.key, t.tileIdx)))
    val cs = contours(todo, cfg).persist()
    try {
      // one zero row per tile joins the traced counts, so the collect lists
      // every tile: committed ones and ones without contours add 0 to the
      // prefix sum and move no id
      val counts = tileCounts(pathCounts(cs)
        .union(tilesAll.select(col("key"), col("tileIdx"), lit(0L), lit(0L))))
      val committedCounts = committed.map(c => ((c.key, c.tileIdx), (c.nodes, c.ways))).toMap
      // merged deterministic prefix sum over ALL tiles (committed counts
      // win for tiles present in both) — same walk as idOffsets
      val offsets = prefixSum((counts.toMap ++ committedCounts).toSeq, cfg)
      val files = writeOsmXml(cs, offsets, outDir, cfg, commit = true, format = format)
      val after = Checkpoint.readCommits(outDir)
      if (after.nonEmpty) Checkpoint.writeMeta(outDir, counts.map(_._1), after)
      RunReport(counts.size, committedKeys.size, files.size, files)
    } finally {
      cs.unpersist(); tilesAll.unpersist()
    }
  }

  /** Debug XYZ dump: "lon lat height" per grid point per tile (reference
    * HgtTile.plotData, pyhgtmap/hgt/tile.py:168-184). */
  def writeXyz(tilesDs: Dataset[DemTileRow], outDir: String, cfg: JobConfig): Seq[String] = {
    val spark = tilesDs.sparkSession
    import spark.implicits._
    graft.core.Fs.mkdirs(outDir)
    val voidMax = cfg.voidMax
    val smoothRatio = cfg.smoothRatio
    val feetSteps = cfg.feetSteps // --feet applies to xyz dumps too (the
    // reference converts at decode, file.py:484-485, before plotData)
    val prefix = cfg.outputPrefix.getOrElse("")
    val files = tilesDs
      .repartitionByRange(col("key"), col("tileIdx"))
      .sortWithinPartitions("path", "tileIdx")
      .mapPartitions { it =>
        it.map { tr =>
          val g = GridCache.grid(tr.path, voidMax, smoothRatio, feetSteps)
          val name = graft.sinks.TileSink.fileName(
            BBox(tr.minLon, tr.minLat, tr.maxLon, tr.maxLat), tr.key,
            graft.sinks.TileSink.XyzFormat, prefix)
          val path = s"$outDir/$name"
          val w = new java.io.BufferedWriter(
            new java.io.OutputStreamWriter(graft.core.Fs.create(path),
              java.nio.charset.StandardCharsets.UTF_8), 1 << 20)
          try {
            var r = 0
            while (r < tr.rows) {
              val lat = tr.maxLat - r * tr.latInc
              var c = 0
              while (c < tr.cols) {
                val lon = tr.minLon + c * tr.lonInc
                val z = g.values((tr.rowOff + r) * tr.fullCols + tr.colOff + c).toInt
                w.write(graft.core.Fmt("%.7f %.7f %d\n", lon, lat, z))
                c += 1
              }
              r += 1
            }
          } finally w.close()
          path
        }
      }
      .collect()
    files.toSeq.sorted
  }
}
