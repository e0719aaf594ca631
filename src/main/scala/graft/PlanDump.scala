package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Queries, SpatialJoin, Ann}

/** Writes PLANS.md: `explain(formatted)` of the headline operators with
  * the plan properties each one is designed around. Regenerate with
  *   sbt "runMain graft.PlanDump"
  * after touching any of these paths. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // fixed cores, not SPARK_GRAFT_CPUS: the committed plans must not
    // depend on the host that regenerates them
    val spark = Session.local("graft-plan-dump", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline operators\n\n")
    sb.append("Generated by `graft.PlanDump` at sf0.001 (plan SHAPE is scale-independent;\n")
    sb.append("AQE may collapse partition counts at runtime). What to look for is noted\n")
    sb.append("per plan.\n")

    def dump(title: String, note: String, df: DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }

    dump("q01 pricing aggregation",
      "Filter + projection reach the parquet scan (PushedFilters/ReadSchema);\n" +
        "partial_sum before the exchange (map-side combine); whole-stage codegen\n" +
        "spans scan -> final aggregate.",
      Queries.all.find(_.name == "q01_pricing_agg").get.impl(spark, dir))

    dump("q20 exact dedup",
      "Re-keyed off raw text: the exchange keys are xxhash64/sha2 of the body,\n" +
        "never the body itself; no window operator.",
      Queries.all.find(_.name == "q20_dedup_exact").get.impl(spark, dir))

    val pages = graft.synth.Pages.geocoded(
      spark.read.parquet(s"$dir/documents.parquet")
        .selectExpr("concat('https://x.example/page/', doc_id) AS url", "doc_id"), 6)
    val polys = Seq(SpatialJoin.Poly(1L, Array(6.2, 43.2, 6.8, 43.2, 6.5, 43.8)))
    dump("spatial PIP join (broadcast polygon index)",
      "No exchange and no join: each page probes the broadcast polygon index\n" +
        "(cell cover + prepared polygons) in the codegen'd pip_probe, whose\n" +
        "polygon ids explode into rows.",
      SpatialJoin.pipJoin(pages, polys, 6))

    dump("spatial PIP join (salted shuffle variant)",
      "Broadcast LEFT SEMI on the covered cells prunes pages BEFORE the wide\n" +
        "exchange; a shuffled hash LEFT SEMI join on (cell, salt) against the\n" +
        "cells x salts spreads dense cells over reducers, then pip_probe.",
      SpatialJoin.pipJoinSalted(pages, polys, 6, salts = 4))

    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    dump("ANN k-means assign (literal-centroid argmin)",
      "No join, no window, no exchange: the centroid table is a plan literal\n" +
        "and the argmin is a fold inside Project.",
      Ann.assign(vecs, Seq((0, Array.fill(8)(0.0)), (1, Array.fill(8)(1.0)))))

    dump("q31 cosine top-k (broadcast whole-vector)",
      "The 3 query vectors broadcast as one tiny build side; the codegen'd\n" +
        "cosine_sim kernel runs in ONE narrow stage + top-k window — no dims\n" +
        "explode, no Generate anywhere in the plan.",
      Queries.all.find(_.name == "q31_ann_cosine_topk").get.impl(spark, dir))

    dump("q34 embedding near-dup (IVF-bucketed pairs)",
      "Candidates come from Ann.ivfPairs' EQUI-JOIN on cluster (index side in\n" +
        "its nearest cluster, probe side fanned to nprobe clusters) — no\n" +
        "BroadcastNestedLoopJoin / CartesianProduct; nprobe < k is the\n" +
        "recall-vs-cost knob that caps the pair space at scale.",
      Queries.all.find(_.name == "q34_emb_neardup").get.impl(spark, dir))

    dump("q14 batch-table kNN",
      "Two fully-columnar passes: ring-distance cumulative counts against the\n" +
        "PRE-AGGREGATED per-cell page counts pick the per-query radius, then a\n" +
        "provably-covering ring equi-join + windowed top-k. No driver loop, no\n" +
        "CartesianProduct — the query side can be a table.",
      Queries.all.find(_.name == "q14_geo_knn_batch").get.impl(spark, dir))

    dump("q39 n-gram language ID",
      "Profile training (groupBy + small window) and the classify distinct are\n" +
        "independent shuffle-map stages over the same gram explode — they run\n" +
        "concurrently; the classify join broadcasts the ~100-row profile. Every\n" +
        "exchange keys on xxhash64(gram) (check the hashpartitioning exprs: ghash,\n" +
        "never gram) — raw text fragments stay out of all shuffle keys; the train\n" +
        "side carries the 3-char gram only as a min() tie-break buffer.",
      Queries.all.find(_.name == "q39_lang_id").get.impl(spark, dir))

    dump("q43 int8 embedding quantization",
      "Pure narrow array expressions (scale, quantize, fold) — no Generate, no\n" +
        "Join; the only exchange is the output ordering.",
      Queries.all.find(_.name == "q43_emb_quantize").get.impl(spark, dir))

    dump("q27 exact-Jaccard verify of LSH candidates",
      "Only CANDIDATE docs' shingles enter the intersection shuffle: the\n" +
        "candidate doc set is broadcast-semi-joined against the shingle stream\n" +
        "before the distinct, so the verify stage shuffles the suspects, not\n" +
        "the corpus.",
      Queries.all.find(_.name == "q27_jaccard_verify").get.impl(spark, dir))

    dump("q16 S2 cell aggregation",
      "The hierarchical sphere index as one codegen'd projection (s2_cell_11)\n" +
        "+ hash agg with partial_count/partial_avg map-side combine — same\n" +
        "shape as the flat-grid q10, hierarchical key.",
      Queries.all.find(_.name == "q16_s2_cells").get.impl(spark, dir))

    dump("q17 as-of join",
      "No join node at all: unionByName of the tagged sides, ONE hash\n" +
        "exchange on the key, and a running last(ignoreNulls) window over\n" +
        "(ts, side) order. Right rows sort before left at equal ts\n" +
        "(inclusive <=); no range-join row explosion.",
      Queries.all.find(_.name == "q17_asof_join").get.impl(spark, dir))

    dump("q45 per-domain cap",
      "The rank<=k filter plans as WindowGroupLimit in Partial mode BELOW\n" +
        "the exchange: each map task ships at most k rows per domain before\n" +
        "the final per-domain window.",
      Queries.all.find(_.name == "q45_domain_cap").get.impl(spark, dir))

    dump("q47 benchmark decontamination",
      "The benchmark's distinct gram hashes broadcast; the corpus gram\n" +
        "stream joins them without a shuffle — the only exchanges are the\n" +
        "tiny benchmark distinct and the per-doc count.",
      Queries.all.find(_.name == "q47_decontam").get.impl(spark, dir))

    dump("q19 sequence packing",
      "Segmented prefix sum: the data window partitions by band (parallel),\n" +
        "the only unpartitioned window runs over one summary row per band,\n" +
        "and the offsets join back as a broadcast. No global one-task sort.",
      Queries.all.find(_.name == "q19_seq_pack").get.impl(spark, dir))

    // a fixed directory, so its path in the plan is the same on every run
    val s2Dir = s"${sys.props("java.io.tmpdir").stripSuffix("/")}/graft-plandump-s2"
    graft.core.Fs.deleteRecursive(s2Dir)
    try dump("S2 cover-range scan of a clustered table",
      "A bbox over an S2-leaf-clustered table: the adaptive covering's cell\n" +
        "ranges arrive at the parquet scan as PushedFilters on the sorted s2\n" +
        "column — row groups outside the ranges never decode.",
      {
        SpatialJoin.writeClusteredS2(pages.select("page_id", "lon", "lat"),
          s2Dir, "lon", "lat", partitions = 4)
        spark.read.parquet(s2Dir)
          .filter(SpatialJoin.s2RangePredicate(6.4, 43.4, 6.6, 43.6, level = 10))
          .filter(col("lon").between(6.4, 6.6) && col("lat").between(43.4, 43.6))
      })
    finally graft.core.Fs.deleteRecursive(s2Dir)

    graft.core.Fs.writeString("PLANS.md", sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
