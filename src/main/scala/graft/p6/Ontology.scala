package graft.p6

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** The HPO ontology as two dimension tables plus a transitive-closure
  * edge set (SURVEY.md §2.6). The reference holds the ontology as an
  * in-memory term graph (hpotk); at Spark scale the idiomatic shape is
  * broadcast dimension tables: ~18k terms is kilobytes against a 100 TB
  * fact side, so every ontology check is a broadcast hash join — no
  * shuffle of the fact table ever happens for validation.
  *
  * @param terms   (term_id, name, is_obsolete, alt_ids array<string>)
  * @param edges   (child, parent) direct is_a edges
  * @param closure (descendant, ancestor) transitive closure, ancestor
  *                != descendant
  */
final case class Ontology(terms: DataFrame, edges: DataFrame, closure: DataFrame)

object Ontology {

  /** Parse an obographs-format hp.json (the format served by HPO GitHub
    * releases, ref: src/P6/__main__.py:96-125) into the dimension tables.
    * Spark-native: `spark.read.json` handles .json and .json.gz alike.
    * Terms and edges are extracted in ONE pass over the file and held
    * as driver-parallelized frames (dimension-sized, like the driver
    * closure), so no query over the ontology re-reads or re-parses it.
    */
  def fromObographs(spark: SparkSession, path: String): Ontology = {
    val raw = spark.read.option("multiLine", true).json(path)
    val graph = raw.select(explode(col("graphs")).as("g")).select(col("g.*"))

    def shortId(c: Column) =
      regexp_replace(regexp_extract(c, "([^/]+)$", 1), "_", ":")
    def elementType(df: DataFrame, field: String) =
      df.schema(field).dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

    val metaFields: Set[String] = elementType(graph, "nodes").find(_.name == "meta")
      .map(_.dataType) match {
        case Some(m: StructType) => m.fieldNames.toSet
        case _ => Set.empty
      }
    def term(n: Column): Column = {
      val meta = n.getField("meta")
      val deprecated =
        if (metaFields.contains("deprecated")) coalesce(meta.getField("deprecated"), lit(false))
        else lit(false)
      // Replacement ids for obsolete terms (J2's alt_term_ids): obographs
      // carries them as meta.basicPropertyValues entries with the
      // IAO:0100001 ("term replaced by") predicate.
      val altIds =
        if (metaFields.contains("basicPropertyValues"))
          coalesce(
            transform(
              filter(meta.getField("basicPropertyValues"),
                bpv => bpv.getField("pred").endsWith("IAO_0100001")),
              bpv => shortId(bpv.getField("val"))),
            lit(Array.empty[String]))
        else lit(Array.empty[String])
      struct(shortId(n.getField("id")).as("term_id"), n.getField("lbl").as("name"),
        deprecated.as("is_obsolete"), altIds.as("alt_ids"))
    }
    val extracted = graph.select(
      filter(transform(col("nodes"), term(_)), t => t.getField("term_id").startsWith("HP:"))
        .as("terms"),
      transform(filter(col("edges"), e => e.getField("pred") === "is_a"),
        e => struct(shortId(e.getField("sub")).as("child"),
          shortId(e.getField("obj")).as("parent"))).as("edges"))
    val graphs = extracted.collect()
    def dimension(field: String): DataFrame = parallelized(spark,
      graphs.toSeq.flatMap(g => Option(g.getSeq[Row](g.fieldIndex(field))).getOrElse(Nil)),
      elementType(extracted, field))

    val edges = dimension("edges")
    Ontology(dimension("terms"), edges, transitiveClosure(edges))
  }

  /** Build an ontology from in-memory rows (tests, fixtures). */
  def fromRows(spark: SparkSession,
      terms: Seq[(String, String, Boolean, Seq[String])],
      edges: Seq[(String, String)]): Ontology = {
    import spark.implicits._
    val t = terms.toDF("term_id", "name", "is_obsolete", "alt_ids")
    val e = edges.toDF("child", "parent")
    Ontology(t, e, transitiveClosure(e))
  }

  /** Iterative join-to-fixpoint transitive closure over is_a edges —
    * the one genuinely graph-shaped computation in the engine (J4,
    * SURVEY.md §4.2). The ontology is small (~18k terms / depth < 20),
    * so this runs in a handful of local iterations; the result is cached
    * and broadcast into the fact-side joins.
    */
  /** Transitive closure with a two-tier strategy:
    *
    *  - Dimension-sized graphs (edge count <= driverMaxEdges) are
    *    closed ON THE DRIVER with a memoized DAG walk and the result
    *    parallelized back — an ontology is a dimension table (HPO is
    *    ~18k terms), and a driver pass beats ~log(depth) Spark jobs by
    *    an order of magnitude. This is the "compute once, broadcast"
    *    shape from SURVEY §4.2.
    *  - Larger graphs fall back to the distributed pointer-doubling
    *    fixpoint below (exercised in tests via driverMaxEdges = 0).
    */
  def transitiveClosure(edges: DataFrame, maxIters: Int = 40,
      driverMaxEdges: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    // Materialize the distinct edge set ONCE before the tier decision
    // (same fix as Dedup.connectedComponents, BASELINE.md round 12):
    // the old limit(cap+1).collect() probe ran Spark's incremental
    // limit — retry rounds re-reading the distinct's shuffle a
    // data-dependent number of times — and the fallback path then
    // recomputed the same distinct AGAIN for its round-0 frame. With
    // the cache, the edge scan + distinct run exactly once and both
    // tiers read the cached result.
    val named0 = edges.select(col("child").as("descendant"), col("parent").as("ancestor"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      transitiveClosureOn(named0, spark, maxIters, driverMaxEdges)
    } finally { named0.unpersist(false); () }
  }

  private def transitiveClosureOn(named0: DataFrame, spark: SparkSession,
      maxIters: Int, driverMaxEdges: Long): DataFrame = {
    if (driverMaxEdges > 0) {
      val cap = math.min(driverMaxEdges, Int.MaxValue - 2L).toInt
      if (named0.count() <= cap)
        return driverClosure(spark, named0.collect(), named0.schema)
    }
    // Distributed path. Each iteration is "pinned" — rebuilt from its
    // RDD with a clean schema — which truncates the logical plan
    // (otherwise lineage grows superlinearly and the driver OOMs on
    // plan bookkeeping) and sheds stale constraint attributes (Union
    // constraint rewriting chokes on checkpointed plans).
    def pin(df: DataFrame): DataFrame = {
      val out = spark.createDataFrame(df.rdd, df.schema)
      out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out
    }
    // Pointer doubling: closure_{2k} = closure_k ∪ (closure_k ⋈ closure_k),
    // so a depth-D hierarchy converges in ceil(log2 D) rounds instead of
    // D — each round is one self-join, and every round's driver-side
    // isEmpty barrier is a full Spark job, so halving the round count
    // matters more than the slightly larger joins.
    var closure = pin(named0) // round 0 reads the cached distinct
    var i = 0
    var done = false
    // Frames superseded in round k stay cached until round k+1's
    // isEmpty has materialized the union built on top of them — only
    // then is dropping their blocks free (the union is lazy; pin()
    // truncates the plan but not the RDD lineage).
    var retired: List[DataFrame] = Nil
    while (!done && i < maxIters) {
      val next = pin(closure.as("f")
        .join(closure.as("b"), col("f.ancestor") === col("b.descendant"))
        .select(col("f.descendant").as("descendant"), col("b.ancestor").as("ancestor"))
        .except(closure))
      val empty = next.isEmpty // materializes next AND this round's closure
      retired.foreach(_.unpersist())
      retired = Nil
      if (empty) { next.unpersist(); done = true }
      else {
        retired = List(closure, next)
        closure = pin(closure.union(next))
      }
      i += 1
    }
    closure
  }

  /** Driver-side closure of a dimension-sized DAG: memoized ancestor
    * sets via an explicit-stack post-order walk (no recursion-depth
    * limit; cycles, which a well-formed ontology cannot contain, are
    * broken by the in-progress mark rather than looping forever).
    */
  private def driverClosure(spark: SparkSession, pairs: Array[Row],
      schema: StructType): DataFrame = {
    import scala.collection.mutable
    val parents = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
    pairs.foreach { r =>
      parents.getOrElseUpdate(r.get(0), mutable.ArrayBuffer.empty[Any]) += r.get(1)
    }
    val memo = mutable.HashMap.empty[Any, mutable.LinkedHashSet[Any]]
    val onStack = mutable.HashSet.empty[Any]
    parents.keysIterator.foreach { root =>
      if (!memo.contains(root)) {
        val stack = mutable.ArrayDeque[(Any, Boolean)]((root, false))
        while (stack.nonEmpty) {
          val (node, expanded) = stack.removeLast()
          if (expanded) {
            val acc = mutable.LinkedHashSet.empty[Any]
            parents.get(node).foreach(_.foreach { p =>
              acc += p
              memo.get(p).foreach(acc ++= _)
            })
            memo(node) = acc
            onStack.remove(node)
          } else if (!memo.contains(node) && onStack.add(node)) {
            stack.append((node, true))
            parents.get(node).foreach(_.foreach { p =>
              if (!memo.contains(p) && !onStack.contains(p)) stack.append((p, false))
            })
          }
        }
      }
    }
    val rows = parents.keysIterator.flatMap { d =>
      memo(d).iterator.map(a => Row(d, a))
    }.toSeq
    parallelized(spark, rows, schema)
  }

  /** Driver-held, dimension-sized rows as a frame. parallelize instead
    * of a LocalRelation: a quarter-million-row LocalRelation gets copied
    * into every plan that references it (planning cost + task binary
    * bloat); an RDD-backed frame is referenced, not embedded.
    */
  private def parallelized(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(2, spark.sparkContext.defaultParallelism / 4)), schema)

  /** J1-J3: per-row ontology checks on parsed phenotype records
    * (ref: src/P6/mapper.py:380-397). One broadcast left join serves all
    * three checks. `labels` carries the user-supplied label when the HPO
    * cell had one (may be empty).
    */
  def termChecks(ont: Ontology, phenotypes: DataFrame,
      labelCol: String = "__label"): DataFrame = {
    val withLabel =
      if (phenotypes.columns.contains(labelCol)) phenotypes
      else phenotypes.withColumn(labelCol, lit(""))
    val joined = withLabel.join(broadcast(ont.terms),
      withLabel("HPO_ID") === ont.terms("term_id"), "left")

    val notFound = joined.filter(col("term_id").isNull)
      .select(lit("phenotype").as("sheet"), lit("ontology-check").as("step"),
        lit("warning").as("level"),
        concat(lit("Sheet 'phenotype': "), col("HPO_ID"),
          lit(" not found in ontology")).as("message"))

    val obsolete = joined.filter(coalesce(col("is_obsolete"), lit(false)))
      .select(lit("phenotype").as("sheet"), lit("ontology-check").as("step"),
        lit("warning").as("level"),
        concat(lit("Sheet 'phenotype': "), col("HPO_ID"),
          lit(" is obsolete; consider replacements: "),
          concat_ws(",", col("alt_ids"))).as("message"))

    val labelMismatch = joined.filter(
      col("term_id").isNotNull && length(trim(col(labelCol))) > 0 &&
        !(lower(trim(col(labelCol))) <=> lower(col("name"))))
      .select(lit("phenotype").as("sheet"), lit("ontology-check").as("step"),
        lit("warning").as("level"),
        concat(lit("Sheet 'phenotype': label '"), trim(col(labelCol)),
          lit("' does not match ontology name '"), col("name"),
          lit("' for "), col("HPO_ID")).as("message"))

    notFound.unionByName(obsolete).unionByName(labelMismatch)
  }

  val phenotypicAbnormalityRoot = "HP:0000118"

  /** J4 batch validators (ref: src/P6/mapper.py:426-441):
    *  - obsolete terms (error-level in batch mode),
    *  - terms not under "Phenotypic abnormality" (HP:0000118),
    *  - annotation propagation: no annotated term may be an ancestor of
    *    another annotated term (within one sheet's term set).
    */
  def batchValidate(ont: Ontology, phenotypes: DataFrame): DataFrame = {
    val ids = phenotypes.select(col("HPO_ID")).distinct()

    val abnormalityDescendants = ont.closure
      .filter(col("ancestor") === phenotypicAbnormalityRoot)
      .select(col("descendant"))

    val notAbnormality = ids
      .join(broadcast(ont.terms), ids("HPO_ID") === ont.terms("term_id"), "left_semi")
      .join(broadcast(abnormalityDescendants),
        ids("HPO_ID") === abnormalityDescendants("descendant"), "left_anti")
      .filter(col("HPO_ID") =!= phenotypicAbnormalityRoot)
      .select(lit("phenotype").as("sheet"), lit("batch-validate").as("step"),
        lit("error").as("level"),
        concat(lit("Sheet 'phenotype': "), col("HPO_ID"),
          lit(" is not a descendant of Phenotypic abnormality")).as("message"))

    // annotated term that is an ancestor of another annotated term
    val idsB = ids.withColumnRenamed("HPO_ID", "HPO_ID_2")
    val propagation = ids
      .join(broadcast(ont.closure), ids("HPO_ID") === col("ancestor"))
      .join(idsB, col("descendant") === idsB("HPO_ID_2"), "left_semi")
      .select(col("HPO_ID")).distinct()
      .select(lit("phenotype").as("sheet"), lit("batch-validate").as("step"),
        lit("error").as("level"),
        concat(lit("Sheet 'phenotype': "), col("HPO_ID"),
          lit(" is an ancestor of another annotated term")).as("message"))

    notAbnormality.unionByName(propagation)
  }
}
