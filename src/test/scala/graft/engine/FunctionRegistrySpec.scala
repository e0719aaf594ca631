package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.SpatialJoin.Poly
import graft.synth.Pages

/** Engine code builds its kernel columns directly (graft.functions.Catalyst),
  * so building a plan must leave the session's function registry as it
  * found it: no temp function to drop, no name one query silently relies
  * on another having registered. */
class FunctionRegistrySpec extends AnyFunSuite {

  // a session of its own: its registry is a private copy, so no other
  // suite's activity can show up in the snapshot
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("function-registry-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
    .newSession()

  private val dir = "/root/testdata/sf0.001"

  private val Gates = Seq(
    "q11_geo_pip", "q16_s2_cells", "q21_minhash", "q23_simhash", "q26_text_roundtrip",
    "q27_jaccard_verify", "q31_ann_cosine_topk", "q36_simhash_neardup", "q37_banded_lsh",
    "q57_emb_neardup_banded")

  private def functions = spark.sessionState.functionRegistry.listFunction().toSet

  test("no engine entry point changes the session's function registry") {
    val before = functions
    def analyze(name: String, df: DataFrame): Unit =
      assert(df.queryExecution.analyzed.resolved, name)

    for (name <- Gates) {
      val q = Queries.all.find(_.name == name)
      assert(q.isDefined, s"no gate $name")
      analyze(name, q.get.impl(spark, dir))
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pages = Pages.geocoded(
      docs.select(concat(lit("https://x.example/page/"), col("doc_id")).as("url")), 6)
    analyze("Pages.geocoded", pages)
    analyze("Lsh.signatures", Lsh.signatures(docs, "doc_id", "text", n = 8, numHashes = 8))
    val polys = Seq(Poly(1L, Array(6.2, 43.2, 6.8, 43.2, 6.5, 43.8)))
    analyze("pipJoin", SpatialJoin.pipJoin(pages, polys, 6))
    analyze("pipJoinShuffled", SpatialJoin.pipJoinShuffled(pages, polys, 6))
    analyze("pipJoinSalted", SpatialJoin.pipJoinSalted(pages, polys, 6, salts = 4))
    val tmp = graft.core.Fs.createTempDir("registry-spec")
    try SpatialJoin.writeClusteredS2(pages.limit(100), s"$tmp/s2", "lon", "lat", partitions = 2)
    finally graft.core.Fs.deleteRecursive(tmp)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    analyze("Ann.cosine", vecs.select(Ann.cosine(col("vec"), col("vec")).as("cos")))

    val (added, removed) = (functions -- before, before -- functions)
    assert(added.isEmpty && removed.isEmpty,
      s"added: ${added.mkString(", ")}; removed: ${removed.mkString(", ")}")
  }

  test("src/main registers no function and crosses Column/Expression in one file") {
    val root = new java.io.File("src/main/scala")
    require(root.isDirectory, s"run from the repository root: no ${root.getAbsolutePath}")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    def sites(token: String): Seq[String] = for {
      f <- sources(root)
      (line, i) <- java.nio.file.Files.readString(f.toPath).linesIterator.toSeq.zipWithIndex
      if line.contains(token)
    } yield s"${f.getPath}:${i + 1}"
    for (token <- Seq("createOrReplaceTempFunction", "call_function"))
      assert(sites(token).isEmpty, sites(token).mkString("\n"))
    val crossings = Seq("ClassicConversions", "ColumnConversions").flatMap(sites)
    assert(crossings.nonEmpty && crossings.forall(_.contains("graft/functions/Catalyst.scala:")),
      crossings.mkString("\n"))
  }
}
