package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.p6.{Assemble, DefaultMapper, Ontology}
import graft.sources.WorkbookSource

/** One benchmark JVM: start a session, run units of work, write a JSON
  * record. The caller (run.py) spawns it, times it from outside and
  * checks the outputs.
  *
  * A unit is one `parse-excel --dir` (clinical) or one pass over a list
  * of registry entries through the noop sink (registry). Unit 0 is the
  * first in the JVM (cold); later units are warm. Untraced units call
  * the public entry points with no listener attached. Traced units call
  * the same public functions in the same order as the CLI, inside
  * spans, with the [[Tracer]] listening.
  *
  * Kind "setup" only starts the session and records when it was ready.
  *
  * Usage: Harness <config.json>
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val cfg = Json.parseObject(new String(Files.readAllBytes(Paths.get(args(0))),
      StandardCharsets.UTF_8))
    def str(k: String) = cfg(k).asInstanceOf[String]
    def num(k: String) = cfg(k).asInstanceOf[Number].doubleValue
    val cores = num("cores").toInt
    val kind = str("kind")
    val traced = cfg.get("traced").contains(true)
    val work = Paths.get(str("work_dir"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    if (kind == "setup") {
      Files.writeString(Paths.get(str("out")), Json.write(Map("ready_epoch_ms" -> readyMs)))
      Runtime.getRuntime.halt(0)
    }
    val warmUnits = num("warm_units").toInt
    val tracer = new Tracer(spark, cores)
    val units = (0 to warmUnits).map { i =>
      // Traced runs trace the cold unit, then order warm units
      // untraced, traced, traced, untraced (repeating), so a steady
      // warm-up drift cancels out of the traced-minus-untraced overhead.
      val traceThis = traced && (i == 0 || Set(1, 2)((i - 1) % 4))
      val t = if (traceThis) Some(tracer) else None
      val rec = kind match {
        case "clinical" =>
          clinicalUnit(spark, str("corpus_dir"), str("hpo"), work.resolve(s"unit$i"), t)
        case "registry" => registryUnit(spark, str("registry_dir"),
          cfg("entries").asInstanceOf[Seq[Any]].map(_.toString), t)
      }
      rec ++ Map("index" -> i, "traced" -> traceThis)
    }
    val out = Map[String, Any](
      "ready_epoch_ms" -> readyMs,
      "peak_rss_kb" -> peakRssKb(),
      "units" -> units)
    Files.writeString(Paths.get(str("out")), Json.write(out))
    // The record is written and the caller deletes the work directory:
    // skip the session's orderly shutdown, which nothing measures.
    Runtime.getRuntime.halt(0)
  }

  /** VmHWM: the resident-set high-water mark of this process. */
  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  private def captured[T](body: => T): (T, String) = {
    val buf = new ByteArrayOutputStream()
    val r = Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    (r, buf.toString("UTF-8"))
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"

  // ---------------------------------------------------------------- clinical

  private def clinicalUnit(spark: SparkSession, corpusDir: String, hpo: String,
      unitDir: Path, tracer: Option[Tracer]): Map[String, Any] = {
    Files.createDirectories(unitDir)
    sys.props("graft.keep-session") = "1"
    sys.props("graft.cwd") = unitDir.toString
    tracer.foreach(_.begin())
    val start = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val attempt = scala.util.Try(captured {
      tracer match {
        case None =>
          graft.cli.Main.parseExcel(Map("--dir" -> corpusDir, "--custom-hpo" -> hpo))
          () => Map.empty[String, Any]
        case Some(t) => tracedParseExcel(spark, corpusDir, hpo, unitDir, t)
      }
    })
    val wallNs = System.nanoTime() - start
    val trace = tracer.map(_.end(startMs, wallNs)).getOrElse(Map.empty)
    sys.props -= "graft.cwd"
    val base = Map[String, Any]("wall_s" -> wallNs / 1e9)
    val rec = attempt match {
      case scala.util.Success((layerCounts, stdout)) =>
        base ++ layerCounts() ++ sinkDigest(unitDir) ++ Map("ok" -> true, "stdout" -> stdout)
      case scala.util.Failure(e) => base ++ Map("ok" -> false, "error" -> errorText(e))
    }
    deleteTree(unitDir)
    if (trace.isEmpty) rec else rec ++ Map("trace" -> trace)
  }

  /** `graft.cli.Main.parseExcel` for a `--dir` corpus, step by step, with
    * one span around each public call. Same calls, same order, same
    * stdout. Returns the layer counts as a function, for the caller to
    * evaluate after the unit's wall time and trace are taken.
    */
  private def tracedParseExcel(spark: SparkSession, corpusDir: String, hpo: String,
      unitDir: Path, t: Tracer): () => Map[String, Any] = {
    var corpusRef: graft.sources.WorkbookCorpus = null
    var ontologyRef: Ontology = null
    var issueCountsRef: Map[String, Long] = Map.empty
    var statsRef: Map[String, Long] = Map.empty
    t.span("cli.parse_excel") {
      val corpus = t.span("sources.ingest") { WorkbookSource.readWorkbooks(spark, corpusDir) }
      corpusRef = corpus
      require(corpus.sheets.nonEmpty, s"no readable workbook in $corpusDir")
      val tables = corpus.sheets.toSeq.sortBy(_._1)
      val ontology = t.span("p6.ontology.load") { Ontology.fromObographs(spark, hpo) }
      ontologyRef = ontology
      val result = t.span("p6.mappers.map") {
        val mapped = new DefaultMapper(Some(ontology), false).applyMapping(spark, tables.toMap)
        mapped.copy(issues = mapped.issues.unionByName(
          corpus.issues.withColumnRenamed("source_file", "sheet")
            .select(col("sheet"), col("step"), col("level"), col("message"))))
      }
      val packets = t.span("p6.assemble.bundle") { Assemble.phenopackets(result.bundles) }
      val ts = java.time.LocalDateTime.now()
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm-ss"))
      val outDir = unitDir.resolve("phenopacket_from_excel").resolve(ts).resolve("phenopackets")
      val nWritten = t.span("p6.assemble.sink") {
        Assemble.writeNumberedJson(packets, outDir.toString)
      }
      val stats = t.span("p6.assemble.stats") { result.stats }
      statsRef = stats
      println(s"Wrote ${stats("patients")} phenopacket files to $outDir")
      val issueCap = 50
      val issueCounts = t.span("p6.issues.count") {
        result.issues.groupBy("level").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      issueCountsRef = issueCounts
      t.span("cli.render") {
        Seq(("error", "Errors found in mapping:", "errors"),
          ("warning", "Warnings found in mapping:", "warnings")).foreach {
          case (level, header, plural) =>
            val n = issueCounts.getOrElse(level, 0L)
            if (n > 0) {
              println(header)
              t.span("p6.issues.render") {
                result.issues.filter(col("level") === level)
                  .orderBy("sheet", "step", "message")
                  .limit(issueCap)
                  .collect()
              }.foreach(r => println(s"- ${r.getAs[String]("message")}"))
              if (n > issueCap)
                println(s"- … and ${n - issueCap} more $plural " +
                  s"(cap graft.maxRenderedIssues=$issueCap)")
            }
        }
      }
      println(s"Created ${stats("genotypes")} Genotype objects")
      println(s"Created ${stats("phenotypes")} Phenotype objects")
      require(nWritten == stats("patients"),
        s"wrote $nWritten packets but counted ${stats("patients")} patients")
      corpus.raw.unpersist(false)
    }
    () => Map("layer_counts" -> Map(
      "sources.rows_parsed" -> corpusRef.raw.filter(col("error").isNull).count(),
      "sources.files_failed" -> corpusRef.issues.count(),
      "p6.ontology.closure_pairs" -> ontologyRef.closure.count(),
      "p6.mappers.records_out" -> Seq("genotypes", "phenotypes", "diseases",
        "measurements", "biosamples").map(statsRef).sum,
      "p6.issues.rows_error" -> issueCountsRef.getOrElse("error", 0L),
      "p6.issues.rows_warning" -> issueCountsRef.getOrElse("warning", 0L)))
  }

  /** Files the sink wrote: count, bytes, and a digest of the sorted set
    * of documents (independent of the numbering).
    */
  private def sinkDigest(unitDir: Path): Map[String, Any] = {
    val root = unitDir.resolve("phenopacket_from_excel")
    if (!Files.isDirectory(root)) return Map("files_written" -> 0, "bytes_written" -> 0)
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector
    finally walk.close()
    val docs = files.map(f => Files.readAllBytes(f))
    val md = MessageDigest.getInstance("SHA-256")
    docs.map(new String(_, StandardCharsets.UTF_8)).sorted.foreach { d =>
      md.update(d.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    Map("files_written" -> files.size, "bytes_written" -> docs.map(_.length.toLong).sum,
      "packets_sha256" -> md.digest().map("%02x".format(_)).mkString)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.delete)
    finally walk.close()
  }

  // ---------------------------------------------------------------- registry

  private def registryUnit(spark: SparkSession, dir: String, entries: Seq[String],
      tracer: Option[Tracer]): Map[String, Any] = {
    val queries = graft.SparkEntry.queries
    tracer.foreach(_.begin())
    val start = System.nanoTime()
    val startMs = System.currentTimeMillis()
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    val perEntry = entries.map { name =>
      val e0 = System.nanoTime()
      var built = e0
      val r = scala.util.Try(span("registry.entry") {
        val df: DataFrame = span("registry.build") { queries(name)(spark, dir) }
        built = System.nanoTime()
        span("registry.sink") { df.write.format("noop").mode("overwrite").save() }
      })
      val e1 = System.nanoTime()
      Map[String, Any]("name" -> name, "ok" -> r.isSuccess, "wall_s" -> (e1 - e0) / 1e9,
        "build_s" -> (built - e0) / 1e9) ++
        r.failed.toOption.map(e => "error" -> errorText(e))
    }
    val wallNs = System.nanoTime() - start
    val trace = tracer.map(_.end(startMs, wallNs)).getOrElse(Map.empty)
    val rec = Map[String, Any]("wall_s" -> wallNs / 1e9, "ok" -> perEntry.forall(_("ok") == true),
      "entries" -> perEntry)
    if (trace.isEmpty) rec else rec ++ Map("trace" -> trace)
  }
}
