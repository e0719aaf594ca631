package graft.core

/** Geofabrik `.poly` clip-polygon file parser.
  * Semantics of the reference parse_polygons_file
  * (/root/reference/pyhgtmap/hgt/file.py:48-89): numbered sections
  * terminated by `end`, bbox string formatted at 7 decimals. */
object PolyFile {

  final case class Parsed(areaString: String, polygons: Seq[Array[Double]])

  def parse(content: String): Parsed = {
    val lines = content.split("\n").map(_.trim.toLowerCase).filter(_.nonEmpty)
    val endCount = lines.count(_ == "end")
    val sectionIds = (1 until endCount).map(_.toString).toSet
    val polygons = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[Double]
    lines.foreach { line =>
      if (sectionIds.contains(line)) cur = scala.collection.mutable.ArrayBuffer.empty[Double]
      else if (line == "end" && cur.nonEmpty) {
        polygons += cur.toArray
        cur = scala.collection.mutable.ArrayBuffer.empty[Double]
      } else {
        val parts = line.split("\\s+")
        if (parts.length == 2) {
          try {
            val lon = parts(0).toDouble
            val lat = parts(1).toDouble
            cur += lon
            cur += lat
          } catch { case _: NumberFormatException => }
        }
      }
    }
    require(polygons.nonEmpty, "corrupt poly file: no section holds a coordinate pair")
    val lons = polygons.flatMap(_.grouped(2).map(_(0)))
    val lats = polygons.flatMap(_.grouped(2).map(_(1)))
    // Locale.ROOT: this string is re-parsed with toDouble (dot-decimal)
    val area = Fmt("%.7f:%.7f:%.7f:%.7f", lons.min, lats.min, lons.max, lats.max)
    Parsed(area, polygons.toSeq)
  }

  def parseFile(path: String): Parsed =
    parse(new String(Fs.readAllBytes(path), "UTF-8"))
}
