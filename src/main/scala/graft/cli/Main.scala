package graft.cli

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.p6._
import graft.sources.WorkbookSource

/** CLI parity with the reference's three commands
  * (ref: src/P6/__main__.py:28-31):
  *
  *   parse-excel -e <xlsx> [-hpo <hp.json>] [--strict-variants] [--verbose]
  *               [--legacy-names]
  *   parse-excel --dir <corpusDir> [same flags] — distributed ingest of a
  *               DIRECTORY of workbooks (xlsx/csv/tsv) via
  *               WorkbookSource.readWorkbooks; a corrupt file degrades to
  *               an error issue naming it (exit stays 0); an ingest that
  *               yields NO readable workbook exits 1
  *   audit-excel -e <xlsx> [-r|--report-json]
  *   audit-excel --dir <corpusDir> [-r] — corpus audit: per-KIND
  *               classification over the distributed scan's unioned
  *               sheets plus bounded ingest-workbook error entries
  *               naming each unreadable file
  *   download [-d <dir>] [-v <tag>]
  *
  * Stdout contracts ("Wrote N phenopacket files to …", "Created N
  * Genotype objects", the audit table/JSON shapes) mirror the
  * reference's test-asserted lines.
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "parse-excel" :: rest => parseExcel(opts(rest))
    case "audit-excel" :: rest => auditExcel(opts(rest))
    case "download" :: rest => download(opts(rest))
    case other =>
      System.err.println(s"Usage: p6spark [parse-excel|audit-excel|download] ..." +
        (if (other.nonEmpty) s" (got: ${other.mkString(" ")})" else ""))
      sys.exit(2)
  }

  /** Tiny option parser: flags without values are `true`. */
  private def opts(rest: List[String]): Map[String, String] = {
    val aliases = Map("-e" -> "--excel-path", "-hpo" -> "--custom-hpo",
      "-r" -> "--report-json", "-d" -> "--data-path", "-v" -> "--hpo-version")
    def loop(xs: List[String], acc: Map[String, String]): Map[String, String] = xs match {
      case Nil => acc
      case k :: v :: t if k.startsWith("-") && !v.startsWith("-") =>
        loop(t, acc + (aliases.getOrElse(k, k) -> v))
      case k :: t if k.startsWith("-") =>
        loop(t, acc + (aliases.getOrElse(k, k) -> "true"))
      case _ :: t => loop(t, acc)
    }
    loop(rest, Map.empty)
  }

  private[graft] def session(): SparkSession = {
    // withExtensions: SQL through the CLI gets the same registered
    // kernel functions (dot_product, byte_dot, ...) and optimizer rules
    // as the Scala API path — without it spark.sql callers silently
    // lose the whole extension surface
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Nonzero-exit that stays testable: the in-process test drive
    * (graft.keep-session) throws instead of killing the suite JVM; the
    * real CLI exits with `code`.
    */
  private def exitOrThrow(code: Int, msg: String): Nothing = {
    System.err.println(msg)
    if (sys.props.contains("graft.keep-session"))
      throw new IllegalStateException(msg)
    sys.exit(code)
  }

  /** `graft.maxRenderedIssues`: how many issue messages per level a
    * command prints (default 50); anything but a non-negative integer
    * is a usage error.
    */
  private def maxRenderedIssues(): Int = sys.props.get("graft.maxRenderedIssues") match {
    case None => 50
    case Some(v) => v.toIntOption.filter(_ >= 0).getOrElse(exitOrThrow(2,
      s"graft.maxRenderedIssues must be a non-negative integer (got: $v)"))
  }

  // ---------------------------------------------------------------- 3.1
  def parseExcel(o: Map[String, String]): Unit = {
    if (o.contains("--excel-path") == o.contains("--dir"))
      exitOrThrow(2, "parse-excel: exactly one of -e/--excel-path (single " +
        "workbook) or --dir (workbook corpus) is required")
    val excel = o.getOrElse("--excel-path", o("--dir"))
    val strict = o.contains("--strict-variants")
    val issueCap = maxRenderedIssues()
    // Resolve against graft.cwd exactly like the output dir below: the
    // default tests/data/hp.json must not silently depend on the process
    // cwd while the output path honors the override. An absolute
    // --custom-hpo passes through `resolve` unchanged.
    val hpoFile = Paths.get(sys.props.getOrElse("graft.cwd", ".").toString)
      .resolve(o.getOrElse("--custom-hpo", "tests/data/hp.json"))

    val spark = session()
    // --dir: distributed corpus ingest (S1 scale path) through the SAME
    // mapper/issues/stats pipeline as the single-workbook read. Corrupt
    // files arrive as ingest issues (rendered below under "Errors");
    // only an ingest with NOTHING readable refuses.
    val corpus = readCorpus(spark, o, excel)
    corpus.foreach { c =>
      if (c.sheets.isEmpty) {
        val nBad = c.issues.count()
        exitOrThrow(1, if (nBad > 0)
          s"parse-excel --dir: all $nBad workbook files in $excel failed to parse"
        else s"parse-excel --dir: no workbook files (*.xlsx/*.csv/*.tsv) in $excel")
      }
    }
    val tables = corpus.map(_.sheets.toSeq.sortBy(_._1))
      .getOrElse(readInput(spark, excel).toSeq.sortBy(_._1))

    if (o.contains("--verbose"))
      // strip the distributed scan's provenance columns for the audit
      // render, like audit-excel --dir, so "N cols" matches the sheet
      Audit.preprocess(tables.map { case (k, df) =>
        k -> (if (corpus.isDefined) df.drop("source_file", "row_idx") else df)
      }).foreach { e =>
        println(f"              ${e.step}%-20s ${e.sheet}%-15s ${e.message}")
      }

    // Ontology (J1-J4) when an HPO file is available.
    val ontology: Option[Ontology] =
      if (Files.exists(hpoFile)) Some(Ontology.fromObographs(spark, hpoFile.toString))
      else if (o.contains("--custom-hpo")) exitOrThrow(1, s"HPO file not found: $hpoFile")
      else None

    val mapper: TableMapper = new DefaultMapper(ontology, strict)
    val mapped = mapper.applyMapping(spark, tables.toMap)
    // Corrupt-file ingest issues join the mapping issues channel (the
    // file path takes the `sheet` slot) so one render covers both.
    val result = corpus match {
      case Some(c) => mapped.copy(issues = mapped.issues.unionByName(
        c.issues.withColumnRenamed("source_file", "sheet")
          .select(col("sheet"), col("step"), col("level"), col("message"))))
      case None => mapped
    }
    val bundles = result.bundles
    val packets = Assemble.phenopackets(bundles)

    val ts = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm-ss"))
    val outDir = Paths.get(sys.props.getOrElse("graft.cwd", ".").toString)
      .resolve("phenopacket_from_excel").resolve(ts).resolve("phenopackets")
    // --legacy-names: the reference's older sink named files by patient
    // id (<patient>.json) instead of 1.json..N.json
    val nWritten = Assemble.writeNumberedJson(packets, outDir.toString,
      legacyNames = o.contains("--legacy-names"))

    val stats = result.stats
    println(s"Wrote ${stats("patients")} phenopacket files to $outDir")

    // Bounded issues render: a pathological corpus (every row bad)
    // yields an issues DF the size of the input — never pull that onto
    // the driver. The issue plan runs ONCE: exact per-level counts ride
    // along as observed metrics, and a per-level row_number keeps the
    // first `cap` messages (Spark's window group limit applies it per
    // partition before the shuffle), so at most 2·cap rows are fetched,
    // with an "and N more" line carrying the exact remainder — same
    // discipline as writeNumberedJson's graft.maxNumberedFiles
    // fail-fast. The plan keeps at least one row per level: a limit of
    // 0 is optimized into an empty relation that drops the observation.
    val counted = Observation("stat_issue_counts")
    val shown = result.issues
      .observe(counted, count_if(col("level") === "error").as("error"),
        count_if(col("level") === "warning").as("warning"))
      .filter(col("level").isin("error", "warning"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("level").orderBy("sheet", "step", "message")))
      .filter(col("rank") <= math.max(issueCap, 1))
      .select("level", "rank", "message")
      .collect()
    // no metrics only when the plan was proven empty
    val issueCounts = counted.get
    require(issueCounts.nonEmpty || shown.isEmpty, "issue counts were not observed")
    def renderIssues(level: String, header: String, plural: String): Unit = {
      val n = issueCounts.get(level).fold(0L)(_.asInstanceOf[Long])
      if (n > 0) {
        println(header)
        shown.filter(r => r.getString(0) == level && r.getInt(1) <= issueCap)
          .sortBy(_.getInt(1)).foreach(r => println(s"- ${r.getString(2)}"))
        if (n > issueCap)
          println(s"- … and ${n - issueCap} more $plural " +
            s"(cap graft.maxRenderedIssues=$issueCap)")
      }
    }
    renderIssues("error", "Errors found in mapping:", "errors")
    renderIssues("warning", "Warnings found in mapping:", "warnings")

    println(s"Created ${stats("genotypes")} Genotype objects")
    println(s"Created ${stats("phenotypes")} Phenotype objects")
    require(nWritten == stats("patients"),
      s"wrote $nWritten packets but counted ${stats("patients")} patients")
    corpus.foreach(_.raw.unpersist(false))
    maybeStop(spark)
  }

  /** A workbook path may be an .xlsx file or a DIRECTORY of .csv/.tsv
    * sheets (one file per sheet, named by basename).
    */
  private def readInput(spark: SparkSession, path: String): Map[String, DataFrame] =
    if (Files.isDirectory(Paths.get(path))) WorkbookSource.readSheetDir(spark, path)
    else WorkbookSource.readWorkbook(spark, path)

  /** Shared `--dir` corpus ingest for parse-excel / audit-excel: path
    * must be an existing directory (fail with usage exit code before
    * Spark turns it into a stack trace), distributed scan via
    * `readWorkbooks`.
    */
  private def readCorpus(spark: SparkSession, o: Map[String, String],
      path: String): Option[graft.sources.WorkbookCorpus] =
    if (!o.contains("--dir")) None
    else if (!Files.isDirectory(Paths.get(path)))
      exitOrThrow(2, s"--dir: not a directory: $path")
    else Some(WorkbookSource.readWorkbooks(spark, path))

  /** Tests drive the commands in-process against a shared session. */
  private def maybeStop(s: SparkSession): Unit =
    if (!sys.props.contains("graft.keep-session")) s.stop()

  // ---------------------------------------------------------------- 3.2
  def auditExcel(o: Map[String, String]): Unit = {
    if (o.contains("--excel-path") == o.contains("--dir"))
      exitOrThrow(2, "audit-excel: exactly one of -e/--excel-path (single " +
        "workbook) or --dir (workbook corpus) is required")
    val excel = o.getOrElse("--excel-path", o("--dir"))
    val cap = maxRenderedIssues()
    val spark = session()
    val corpus = readCorpus(spark, o, excel)
    // Corpus audit granularity: sheets of the same logical kind union
    // across files, so classification entries are per KIND (the
    // provenance columns the scan appends are stripped from the column
    // counts); file-level problems surface as bounded ingest-workbook
    // entries naming each unparseable file.
    val tables = corpus
      .map(_.sheets.view.mapValues(_.drop("source_file", "row_idx")).toSeq.sortBy(_._1))
      .getOrElse(readInput(spark, excel).toSeq.sortBy(_._1))
    val ingestEntries = corpus.toSeq.flatMap { c =>
      val n = c.issues.count()
      val shown = c.issues.orderBy("source_file").limit(cap).collect()
        .map(r => AuditEntry("ingest-workbook",
          r.getAs[String]("source_file"), r.getAs[String]("message"), "error"))
      if (n > cap)
        shown :+ AuditEntry("ingest-workbook", "…",
          s"and ${n - cap} more unreadable files (cap graft.maxRenderedIssues=$cap)",
          "error")
      else shown.toSeq
    }
    val entries = ingestEntries ++ Audit.preprocess(tables)
    if (o.contains("--report-json")) println(Audit.renderJson(entries))
    else println(Audit.renderTable(entries))
    corpus.foreach(_.raw.unpersist(false))
    maybeStop(spark)
  }

  // ---------------------------------------------------------------- 3.3
  /** Driver-side HPO release fetch (ref: src/P6/__main__.py:80-125).
    * GRAFT_HPO_BASE_URL overrides the GitHub release root so offline
    * environments/tests can point at file:// fixtures.
    */
  def download(o: Map[String, String]): Unit = {
    val dataDir = Paths.get(o.getOrElse("--data-path", "tests/data"))
    Files.createDirectories(dataDir)
    val base = sys.props.get("graft.env.GRAFT_HPO_BASE_URL")
      .orElse(sys.env.get("GRAFT_HPO_BASE_URL"))
      .getOrElse("https://github.com/obophenotype/human-phenotype-ontology/releases/download")
    val tag = o.get("--hpo-version") match {
      case Some(v) => if (v.startsWith("v")) v else s"v$v"
      case None => resolveLatestTag(base)
    }
    val url = s"$base/$tag/hp.json"
    println(s"Downloading HPO release $tag …")
    val out = dataDir.resolve("hp.json")
    try {
      val conn = java.net.URI.create(url).toURL.openConnection()
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(60000)
      val in = conn.getInputStream
      try Files.copy(in, out, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
    } catch {
      case e: Exception =>
        System.err.println(s"download failed for $url: ${e.getMessage}")
        sys.exit(1)
    }
    println(s"Saved HPO JSON to $out")
  }

  /** Numeric-aware version-tag ordering so v10 > v9 regardless of zero
    * padding: digit runs compare as numbers (shorter-after-zero-strip
    * = smaller; numerically equal runs tie-break lexicographically, so
    * the order stays total), everything else lexicographically.
    * PropertySpec pins agreement with integer order on numeric tags.
    */
  private[graft] val tagOrdering: Ordering[String] = (a: String, b: String) => {
    val pat = """\d+|\D+""".r
    val (as, bs) = (pat.findAllIn(a).toList, pat.findAllIn(b).toList)
    as.zip(bs).iterator.map { case (x, y) =>
      if (x.head.isDigit && y.head.isDigit) {
        val (xs, ys) = (x.dropWhile(_ == '0'), y.dropWhile(_ == '0'))
        if (xs.length != ys.length) xs.length.compareTo(ys.length)
        else if (xs != ys) xs.compareTo(ys)
        else x.compareTo(y)
      } else x.compareTo(y)
    }.find(_ != 0).getOrElse(as.length.compareTo(bs.length))
  }

  /** Latest-release resolution when --hpo-version is omitted
    * (ref: src/P6/__main__.py:107-111). A file:// base lists its
    * version directories (offline mirror layout: {base}/vTAG/hp.json);
    * an http(s) base asks the releases API for `tag_name`
    * (GRAFT_HPO_API_URL overrides the endpoint for fixtures).
    */
  private def resolveLatestTag(base: String): String =
    if (base.startsWith("file:")) {
      val dir = Paths.get(java.net.URI.create(
        if (base.startsWith("file://")) base else "file://" + base.stripPrefix("file:")))
      val tags = if (Files.isDirectory(dir)) {
        val s = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("v"))
            .map(_.getFileName.toString).toList
        } finally s.close()
      } else Nil
      tags.sorted(tagOrdering).lastOption.getOrElse {
        System.err.println(s"download: no release directories under $base " +
          "(expected {base}/vTAG/hp.json); pass --hpo-version explicitly")
        sys.exit(1)
      }
    } else {
      val api = sys.props.get("graft.env.GRAFT_HPO_API_URL")
        .orElse(sys.env.get("GRAFT_HPO_API_URL"))
        .getOrElse("https://api.github.com/repos/obophenotype/human-phenotype-ontology/releases/latest")
      try {
        // bounded timeouts: in a zero-egress environment this must fail
        // fast with the pass---hpo-version hint, not hang on connect
        val conn = java.net.URI.create(api).toURL.openConnection()
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(10000)
        val in = conn.getInputStream
        val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val tag = node.path("tag_name").asText("")
        if (tag.isEmpty) {
          System.err.println(s"download: no tag_name in latest-release response from $api")
          sys.exit(1)
        }
        tag
      } catch {
        case e: Exception =>
          System.err.println(s"download: latest-release lookup failed ($api: " +
            s"${e.getMessage}); pass --hpo-version explicitly in offline mode")
          sys.exit(1)
      }
    }
}
