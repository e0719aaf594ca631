package graft

import graft.core.JobConfig
import graft.engine.RasterPipeline

/** Spark-pipeline CLI: .hgt files -> per-tile OSM XML, the reference's
  * primary end-to-end path (/root/reference/pyhgtmap/main.py:19-61) on the
  * distributed engine.
  *
  * Usage: PipelineCli <out-dir> <file.hgt>... [--step N] [--area A]
  *        [--max-nodes-per-tile N] [--max-nodes-per-way N] [--rdp EPS]
  *        [--cores N] [--pbf|--o5m|--gzip] [--osm-version V]
  *        [--write-timestamp EPOCH] [--smooth R] [--config FILE]
  *
  * Standing options can live in a config file (--config FILE,
  * $SPARK_GRAFT_CONFIG, or ~/.graft/config); explicit argv wins.
  */
object PipelineCli {

  final case class CliOptions(
      cfg: JobConfig,
      files: Seq[String],
      cores: String,
      format: String,
      sourcePrefs: Seq[String],
      polyFile: Option[String],
      cacheRoot: String,
      downloadOnly: Boolean = false, // reference --download-only (main.py:56)
      rewriteIndices: Boolean = false, // reference --rewrite-indices (cli.py:475)
      logLevel: String = "WARN") // reference --log

  /** Config-file layer (the reference's configargparse setup, cli.py:27 +
    * configuration.py:10-11: CLI args > env > ~/.pyhgtmap/config.yaml):
    * standing options live in a properties-style file — one option per
    * line, `step = 20` / `step 20` for valued options, bare `pbf` for
    * flags, `#` comments — found via --config FILE, else $SPARK_GRAFT_CONFIG,
    * else ~/.graft/config. File options are PREPENDED to argv, so an
    * explicit argv option always wins (later parse overwrites earlier). */
  private[graft] def expandConfig(args: Seq[String]): Seq[String] =
    expandConfigLayered(args)._1

  /** Like expandConfig, also returning the index where explicit argv
    * starts (config-file options occupy the prefix): option layering —
    * argv overrides config — needs the boundary, e.g. for the gzip/o5m/
    * pbf exclusion group, which only errors WITHIN a layer. */
  private[graft] def expandConfigLayered(args: Seq[String]): (Seq[String], Int) = {
    val idx = args.indexOf("--config")
    val (cfgFile, argv) =
      if (idx >= 0 && idx + 1 < args.length) (Some(args(idx + 1)), args.patch(idx, Nil, 2))
      else (
        sys.env.get("SPARK_GRAFT_CONFIG").orElse {
          val home = s"${sys.props("user.home")}/.graft/config"
          if (new java.io.File(home).isFile) Some(home) else None
        },
        args)
    val fileArgs = cfgFile.toSeq.flatMap { f =>
      // Hadoop-FS check: config may live on any scheme (hdfs://, s3a://)
      require(graft.core.Fs.fileLength(f) >= 0, s"config file not found: $f")
      graft.core.Fs.readString(f).linesIterator
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap { l =>
          val parts = l.split("[=\\s]+", 2).map(_.trim).filter(_.nonEmpty)
          parts match {
            case Array(k) => Seq(s"--$k")
            case Array(k, v) => Seq(s"--$k", v)
            case _ => Nil
          }
        }
    }
    (fileArgs ++ argv, fileArgs.length)
  }

  /** Parse the post-<out-dir> option/file list (config already expanded).
    * `argvStart`: index of the first explicit-argv element — flags before
    * it came from the config file and may be overridden without error. */
  private[graft] def parseOptions(argSeq: Seq[String], argvStart: Int = 0): CliOptions = {
    val args = argSeq.toArray
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    var cfg = JobConfig(rdpEpsilon = None)
    var cores = Session.cpus().toString
    var format = graft.sinks.TileSink.OsmXmlFormat
    var sourcePrefs: Seq[String] = Nil
    var polyFile: Option[String] = None
    var cacheRoot = sys.env.getOrElse("SPARK_GRAFT_CACHE", "/tmp/graft_cache")
    var downloadOnly = false
    var rewriteIndices = false
    var logLevel = "WARN"
    // reference default-source knobs (cli.py:295-358, 490-517): when no
    // explicit --source/--data-source and no input files are given, the
    // preference list is derived as [view{mask}?, srtm{res}]
    var srtmRes = 3
    var viewMask = 0
    var formatFlag: Option[(String, Boolean)] = None // (flag, isArgvLayer)
    var i = 0
    try while (i < args.length) {
      args(i) match {
        case "--output-prefix" => // reference -o: "<prefix>_" on every tile name
          cfg = cfg.copy(outputPrefix = Some(args(i + 1))); i += 2
        case "--xyz" => format = graft.sinks.TileSink.XyzFormat; i += 1
        case "--plot" => // reference -p PREFIX: xyz data files with a name prefix
          format = graft.sinks.TileSink.XyzFormat
          cfg = cfg.copy(outputPrefix = Some(args(i + 1))); i += 2
        case "--download-only" => downloadOnly = true; i += 1
        case "--rewrite-indices" => rewriteIndices = true; i += 1
        case "--log" => logLevel = args(i + 1).toUpperCase; i += 2
        case "--version" => println("graft 0.3 (pyhgtmap-compatible surface)"); sys.exit(0)
        case "--step" => cfg = cfg.copy(contourStepSize = args(i + 1).toInt); i += 2
        case "--area" => cfg = cfg.copy(area = Some(args(i + 1))); i += 2
        case "--max-nodes-per-tile" => cfg = cfg.copy(maxNodesPerTile = args(i + 1).toLong); i += 2
        case "--max-nodes-per-way" => cfg = cfg.copy(maxNodesPerWay = args(i + 1).toInt); i += 2
        case "--rdp" => cfg = cfg.copy(rdpEpsilon = Some(args(i + 1).toDouble)); i += 2
        case "--cores" => cores = args(i + 1); i += 2
        // --gzip / --o5m / --pbf are mutually exclusive like the reference's
        // argparse group (tests/test_cli.py:13-24) — per LAYER: two
        // DIFFERENT format flags in the same layer (config file, or argv)
        // conflict; an argv flag silently overrides a config-file one
        // (argv wins); a repeated identical flag is fine (argparse only
        // conflicts across group members, never with itself)
        case f @ ("--pbf" | "--o5m" | "--gzip") =>
          val layer = i >= argvStart
          formatFlag match {
            case Some((prev, prevLayer)) if prevLayer == layer && prev != f =>
              throw new IllegalArgumentException(
                s"error: argument $f: not allowed with argument $prev")
            case _ => ()
          }
          formatFlag = Some((f, layer))
          format = f match {
            case "--pbf" => graft.sinks.TileSink.PbfFormat
            case "--o5m" => graft.sinks.TileSink.O5mFormat
            case _ => graft.sinks.TileSink.OsmGzFormat
          }
          i += 1
        case "--osm-version" => cfg = cfg.copy(osmVersion = args(i + 1).toDouble); i += 2
        case "--write-timestamp" => // epoch seconds (deterministic, injectable)
          cfg = cfg.copy(writeTimestamp = Some(args(i + 1).toLong)); i += 2
        case "--smooth" => cfg = cfg.copy(smoothRatio = args(i + 1).toDouble); i += 2
        case "--no-zero" | "--no-zero-contour" => // reference spelling accepted
          cfg = cfg.copy(noZero = true); i += 1
        case "--min-cont" => cfg = cfg.copy(minCont = Some(args(i + 1).toInt)); i += 2
        case "--max-cont" => cfg = cfg.copy(maxCont = Some(args(i + 1).toInt)); i += 2
        case "--feet" => cfg = cfg.copy(feetSteps = true); i += 1
        case "--void-max" | "--void-range-max" => // reference spelling accepted
          cfg = cfg.copy(voidMax = args(i + 1).toInt); i += 2
        case "--corrx" => cfg = cfg.copy(corrx = args(i + 1).toDouble); i += 2
        case "--corry" => cfg = cfg.copy(corry = args(i + 1).toDouble); i += 2
        case "--start-node-id" => cfg = cfg.copy(startNodeId = args(i + 1).toLong); i += 2
        case "--start-way-id" => cfg = cfg.copy(startWayId = args(i + 1).toLong); i += 2
        case "--line-cat" => // ref --line-cat MAJOR,MEDIUM
          val Array(maj, med) = args(i + 1).split(',').map(_.toInt)
          cfg = cfg.copy(lineCatsMajor = maj, lineCatsMedium = med); i += 2
        case "--source" | "--data-source" => // reference alias (cli.py:362)
          sourcePrefs = args(i + 1).split(',').toSeq; i += 2
        case "--poly" | "--polygon" => // reference alias; --area ignored below
          polyFile = Some(args(i + 1)); i += 2
        case "--cache" | "--hgtdir" => cacheRoot = args(i + 1); i += 2 // ref cli.py:400
        case "--jobs" => cores = args(i + 1); i += 2 // reference parallelism knob (cli.py:145)
        case "--srtm" => // reference SRTM resolution choice (cli.py:295)
          srtmRes = args(i + 1).toInt
          if (srtmRes != 1 && srtmRes != 3) {
            System.err.println("The --srtm option can only take '1' or '3' as values.  Defaulting to 3.")
            srtmRes = 3
          }
          i += 2
        case "--viewfinder-mask" => // reference viewfinder preference (cli.py:350);
          // 0 is the valid disabled default (validation is `not in [0,1,3]`)
          viewMask = args(i + 1).toInt
          if (viewMask != 0 && viewMask != 1 && viewMask != 3) {
            System.err.println("The --viewfinder-mask option can only take '1' or '3' as values.  Won't use viewfinder data.")
            viewMask = 0
          }
          i += 2
        case "--srtm-version" => // reference dataset-version pick (cli.py:307); the
          // mirror template decides the actual dataset here, so only validate
          val v = args(i + 1).toDouble
          require(v == 2.1 || v == 3.0, s"unsupported SRTM version $v (want 2.1 or 3)")
          i += 2
        case f if !f.startsWith("--") => files += f; i += 1
        case other => System.err.println(s"unknown option: $other"); sys.exit(2)
      }
    } catch {
      // a valued flag in final position: fail like argparse, not with a
      // raw ArrayIndexOutOfBoundsException stack trace
      case _: ArrayIndexOutOfBoundsException =>
        throw new IllegalArgumentException(
          s"error: argument ${args.last}: expected one argument")
    }
    // reference default-source derivation (cli.py:511-517): no explicit
    // --source/--data-source and no input files -> [view{mask}?, srtm{res}].
    // NOT for --rewrite-indices runs: the reference rebuilds indices and
    // exits BEFORE this derivation (cli.py:475-477), and main's arch3
    // fallback must keep covering that path
    if (sourcePrefs.isEmpty && files.isEmpty && !rewriteIndices)
      sourcePrefs = (if (viewMask != 0) Seq(s"view$viewMask") else Nil) :+ s"srtm$srtmRes"
    // reference --polygon contract (cli.py:68-72): "a bounding box passed to
    // the --area option will be ignored" when a polygon file is given
    if (polyFile.isDefined) cfg = cfg.copy(area = None)
    CliOptions(cfg, files.toSeq, cores, format, sourcePrefs, polyFile, cacheRoot,
      downloadOnly, rewriteIndices, logLevel)
  }

  def main(args: Array[String]): Unit = {
    // dot-decimal everywhere: diagnostics/tables are parsed downstream
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // before the arity check, so the natural `PipelineCli --version` works
    if (args.contains("--version")) {
      println("graft 0.3 (pyhgtmap-compatible surface)"); return
    }
    if (args.length < 2) {
      System.err.println("usage: PipelineCli <out-dir> <file.hgt>... [options]"); sys.exit(2)
    }
    val outDir = args(0)
    val (expanded, argvStart) = expandConfigLayered(args.toSeq.drop(1))
    val opts =
      try parseOptions(expanded, argvStart)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2)
      }
    val files = scala.collection.mutable.ArrayBuffer.empty[String] ++ opts.files
    var cfg = opts.cfg
    val cores = opts.cores
    val format = opts.format
    val sourcePrefs = opts.sourcePrefs
    val polyFile = opts.polyFile
    val cacheRoot = opts.cacheRoot
    val spark = Session.local("graft-pipeline", cores.toInt)
    spark.sparkContext.setLogLevel(opts.logLevel)
    // reference --rewrite-indices: rebuild the source indices and exit
    if (opts.rewriteIndices) {
      graft.sources.Sources.rewriteIndices(cacheRoot,
        if (sourcePrefs.nonEmpty) sourcePrefs else Seq("arch3"))
      println("indices rewritten")
      spark.stop(); return
    }
    // --poly: clip polygons apply to BOTH tile enumeration and the per-cell
    // trace mask (reference checkPoly semantics)
    val parsedPoly = polyFile.map(graft.core.PolyFile.parseFile)
    parsedPoly.foreach(p => cfg = cfg.copy(polygons = Some(p.polygons)))
    // reference download-planning flow when no explicit files are given:
    // area/.poly -> tile keys (+polygon prefilter) -> source pool fetch
    if (files.isEmpty && sourcePrefs.nonEmpty) {
      val (polygons, areaStr) = parsedPoly match {
        case Some(parsed) => (parsed.polygons, parsed.areaString)
        case None =>
          (Nil, cfg.area.getOrElse {
            System.err.println("--source needs --area or --poly to enumerate tiles"); sys.exit(2)
          })
      }
      val Array(lo0, la0, lo1, la1) = areaStr.split(':').map(_.toDouble)
      val keys = graft.engine.TileKeys.enumerate(
        (math.floor(lo0).toInt, math.floor(la0).toInt,
          math.ceil(lo1).toInt, math.ceil(la1).toInt), polygons)
      val fetched = graft.sources.Sources
        .fetchAll(spark, cacheRoot, keys.map(_._1), sourcePrefs).collect()
      System.err.println(s"resolved ${fetched.length}/${keys.size} tiles from ${sourcePrefs.mkString(",")}")
      files ++= fetched.map(_.getString(2))
    }
    // reference --download-only: stop after the source pool fetch (main.py:56)
    if (opts.downloadOnly) {
      files.foreach(println)
      println(s"download-only: ${files.size} tiles cached")
      spark.stop(); return
    }
    val run = Measure(spark, "graft.PipelineCli") {
      if (format == graft.sinks.TileSink.XyzFormat) {
        // reference --plot: raw lon/lat/elev triples, one file per tile
        val out = RasterPipeline.writeXyz(RasterPipeline.tiles(spark, files.toSeq, cfg), outDir, cfg)
        (out, s"xyz: ${out.size} tiles written")
      } else if (cfg.maxNodesPerTile == 0L) {
        // reference semantics: --max-nodes-per-tile 0 = ONE merged output
        (RasterPipeline.runSingle(spark, files.toSeq, outDir, cfg, format),
          s"single output: ${files.size} inputs merged")
      } else {
        val report = RasterPipeline.runResumable(spark, files.toSeq, outDir, cfg, format)
        (report.files, s"tiles: ${report.tilesTotal} total, ${report.tilesSkipped} skipped (committed), " +
          s"${report.tilesWritten} written")
      }
    }
    val (out, summary) = run.result
    out.foreach(println)
    println(f"$summary in ${run.seconds}%.1f s")
    spark.stop()
  }
}
