package graft.core

/** Core data model for the Spark-native contour/spatial engine.
  *
  * Shapes mirror the reference's fundamental abstractions
  * (see /root/reference/pyhgtmap/__init__.py:9-27 and hgt/tile.py:24-30)
  * re-expressed as Scala case classes usable as Spark `Encoder` products.
  */
final case class BBox(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double)

final case class Coordinates(lon: Double, lat: Double)

/** A decoded DEM grid (or sub-grid). Row-major, north->south rows,
  * west->east cols (reference: pyhgtmap/hgt/file.py:458-483).
  * `values` length == rows*cols; `mask(i)` true => void cell.
  */
final case class Grid(
    rows: Int,
    cols: Int,
    values: Array[Float],
    mask: Array[Boolean]) {
  def apply(r: Int, c: Int): Float = values(r * cols + c)
  def masked(r: Int, c: Int): Boolean = mask != null && mask(r * cols + c)
}

/** One unit of contour work: a rectangular slice of a source grid plus its
  * geographic bbox (reference tile: pyhgtmap/hgt/tile.py:33-64).
  */
final case class TileSpec(
    key: String, // source file key, e.g. "N43E006"
    tileId: Long, // deterministic: ordered by (key, rowOffset)
    bbox: BBox,
    rowOffset: Int, // row slice start in the source grid
    rows: Int,
    colOffset: Int, // col slice start in the source grid
    cols: Int,
    lonIncrement: Double,
    latIncrement: Double,
    minEle: Int,
    maxEle: Int)

/** A single traced contour path (post split). Coordinates interleaved
  * lon0,lat0,lon1,lat1,... for compact parquet encoding.
  */
final case class Contour(
    tileId: Long,
    elevation: Int,
    pathIdx: Int, // stable order within (tile, elevation)
    closed: Boolean,
    coords: Array[Double]) {
  def nbPoints: Int = coords.length / 2
  /** Unique nodes as counted by the reference (closed reuses first node):
    * pyhgtmap/hgt/contour.py:103-113. */
  def nbNodes: Int = if (closed) nbPoints - 1 else nbPoints
}

final case class Way(
    firstNodeId: Long,
    nbNodes: Long,
    closedLoop: Boolean,
    elevation: Long)

final case class Node(id: Long, lon: Double, lat: Double)

/** Job configuration mirroring the reference CLI defaults
  * (pyhgtmap/cli.py:86-246, 419-434). */
final case class JobConfig(
    area: Option[String] = None,
    contourStepSize: Int = 20,
    maxNodesPerTile: Long = 1000000L,
    maxNodesPerWay: Int = 2000,
    rdpEpsilon: Option[Double] = Some(0.0),
    noZero: Boolean = false,
    minCont: Option[Int] = None,
    maxCont: Option[Int] = None,
    voidMax: Int = -0x8000,
    smoothRatio: Double = 1.0,
    feetSteps: Boolean = false, // elevations scaled meters->feet at decode
    startNodeId: Long = 10000000L,
    startWayId: Long = 10000000L,
    lineCatsMajor: Int = 200,
    lineCatsMedium: Int = 100,
    // WGS84 clip polygons ([lon,lat,...] rings, reference --polygon):
    // grid cells outside every polygon are masked before tracing, and
    // fully-outside tiles are dropped (file.py:732-768)
    polygons: Option[Seq[Array[Double]]] = None,
    // WGS84 bbox correction offsets (reference --corrx/--corry, applied in
    // parse_hgt_filename / parse_geotiff_bbox for slightly misaligned DEMs)
    corrx: Double = 0.0,
    corry: Double = 0.0,
    osmVersion: Double = 0.6, // reference --osm-version (cli.py:158)
    // filename prefix for output tiles (reference --output-prefix,
    // output/factory.py:27: "<prefix>_" prepended when set)
    outputPrefix: Option[String] = None,
    // epoch seconds to stamp entities with (reference --write-timestamp,
    // output/osmUtil.py:59-62); injected rather than wall-clock so output
    // stays deterministic/resumable
    writeTimestamp: Option[Long] = None)
