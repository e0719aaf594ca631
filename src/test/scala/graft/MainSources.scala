package graft

/** Every line of the Scala sources under src/main as (path, line number,
  * text), for suites that pin where a construct may appear. */
object MainSources {
  def lines(): Seq[(String, Int, String)] = {
    val root = new java.io.File("src/main/scala")
    require(root.isDirectory, s"run from the repository root: no ${root.getAbsolutePath}")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    for {
      f <- sources(root)
      (line, i) <- java.nio.file.Files.readString(f.toPath).linesIterator.toSeq.zipWithIndex
    } yield (f.getPath, i + 1, line)
  }
}
