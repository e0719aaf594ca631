package graft

import graft.core.Fs

/** BENCH.md is written by several mains, and each owns one `## ` section. */
object BenchDoc {

  /** `doc` with the section whose `## ` heading line starts with `heading`
    * replaced in place by `section` (which starts with such a line). Any
    * further section under that heading is dropped, and a missing one is
    * appended; every other section stays byte for byte. */
  def withSection(doc: String, heading: String, section: String): String = {
    val parts = doc.split("(?m)^(?=## )").toSeq.filter(_.nonEmpty)
    val body = section.strip + "\n"
    val at = parts.indexWhere(_.startsWith(heading))
    if (at < 0) {
      val gap = if (doc.isEmpty || doc.endsWith("\n\n")) "" else if (doc.endsWith("\n")) "\n" else "\n\n"
      doc + gap + body
    } else parts.zipWithIndex.collect {
      case (_, i) if i == at => if (i == parts.size - 1) body else body + "\n"
      case (p, _) if !p.startsWith(heading) => p
    }.mkString
  }

  /** Rewrites the file at `path` with `section` in place (see `withSection`). */
  def write(path: String, heading: String, section: String): Unit = {
    val doc = if (Fs.exists(path)) Fs.readString(path) else ""
    Fs.writeString(path, withSection(doc, heading, section))
  }
}
