package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The validation suite (C3-C9): the reference's `arthur validate` is
  * its de-facto integration harness
  * (/root/reference/python/etl/validate.py:196-540). Each check
  * returns a list of findings (empty = valid) so callers can collect
  * across relations; `validateAll` is the command surface.
  */
object Validate {

  final case class Finding(identifier: String, check: String, message: String)

  // ------------------------------------------------------------- C3
  /** Upstream column validation (validate.py:339-403): every design
    * column must exist upstream with compatible nullability; extra
    * columns on either side are warnings. */
  def upstreamColumns(design: TableDesign, upstream: StructType): Seq[Finding] = {
    val id = design.name.identifier
    val up = upstream.fields.map(f => f.name -> f).toMap
    val designCols = design.activeColumns
    val missing = designCols.filterNot(c => up.contains(c.name)).map(c =>
      Finding(id, "upstream_columns", s"column '${c.name}' is not in the upstream table"))
    val notNullMismatch = designCols.filter(c =>
      c.notNull && up.get(c.name).exists(_.nullable)).map(c =>
      Finding(id, "upstream_columns",
        s"column '${c.name}' is not_null in the design but nullable upstream"))
    val extras = upstream.fieldNames.filterNot(designCols.map(_.name).toSet).map(n =>
      Finding(id, "upstream_columns", s"upstream column '$n' is not in the design"))
    missing ++ notNullMismatch ++ extras
  }

  // ------------------------------------------------------------- C4
  /** Upstream constraint validation (validate.py:405-471): every
    * PK/unique the design declares must be enforced upstream — an
    * upstream PRIMARY KEY may serve as the design's unique. Upstream
    * constraints come from JDBC metadata
    * ([[Bootstrap.constraintsFromJdbcMetadata]]) or a catalog query. */
  def upstreamConstraints(design: TableDesign,
                          upstreamEnforced: Seq[Constraint]): Seq[Finding] = {
    val id = design.name.identifier
    val enforcedKeySets = upstreamEnforced
      .filter(c => c.kind == "primary_key" || c.kind == "unique")
      .map(_.columns.toSet)
    design.constraints
      .filter(c => c.kind == "primary_key" || c.kind == "unique")
      .filterNot(c => enforcedKeySets.contains(c.columns.toSet))
      .map(c => Finding(id, "upstream_constraints",
        s"${c.kind} (${c.columns.mkString(", ")}) is not enforced upstream"))
  }

  // ------------------------------------------------------------- C5
  /** Transform dry-run (validate.py:196-263): analyze the query
    * WITHOUT executing it; the dependencies derived from the plan and
    * the output column order must match the design.
    *
    * Late-binding emulation (relation.py:475-498,
    * validate.py:128,162-163,208): when the relation depends on a
    * schema OUTSIDE the managed set, the reference validates it
    * through a `WITH NO SCHEMA BINDING` view — creation succeeds and
    * an unresolvable dependency is NOT an error. Spark views always
    * bind at analysis, so the equivalent is: analyze, and if analysis
    * fails for a relation with external dependencies, tolerate it
    * (the query re-resolves at load time, when the external relation
    * may exist). `managedSchemas = None` means every dependency is
    * managed (strict binding — the standalone-call default). */
  def transformDryRun(spark: SparkSession, design: TableDesign,
                      managedSchemas: Option[Set[String]] = None): Seq[Finding] = {
    val id = design.name.identifier
    val lateBinding = managedSchemas.exists(ms =>
      design.dependsOn.exists(d => d.schema.nonEmpty && !ms.contains(d.schema)))
    try {
      val df = spark.sql(design.query)  // lazy: analysis only
      val actualCols = df.schema.fieldNames.toSeq
      val designCols = design.activeColumns.filterNot(_.identity).map(_.name)
      val colFindings =
        if (actualCols != designCols)
          Seq(Finding(id, "dry_run",
            s"column order mismatch: design=${designCols.mkString(",")} actual=${actualCols.mkString(",")}"))
        else Seq.empty
      val actualDeps = Bootstrap.dependenciesOf(spark, design.query).toSet
      val declaredDeps = design.dependsOn.map(_.identifier).toSet
      val depFindings =
        (actualDeps -- declaredDeps).toSeq.sorted.map(d =>
          Finding(id, "dry_run", s"query reads '$d' which is not in depends_on")) ++
        (declaredDeps -- actualDeps).toSeq.sorted.map(d =>
          Finding(id, "dry_run", s"depends_on lists '$d' which the query does not read"))
      colFindings ++ depFindings
    } catch {
      case _: Exception if lateBinding =>
        Seq.empty   // NO SCHEMA BINDING: unresolvable is not an error
      case e: Exception =>
        Seq(Finding(id, "dry_run", s"query failed analysis: ${e.getMessage}"))
    }
  }

  // ------------------------------------------------------------- C7
  /** Reload consistency (validate.py:266-325): an unloaded relation's
    * columns must equal its reload counterpart's. */
  def reloadConsistency(unloaded: TableDesign, reload: TableDesign): Seq[Finding] = {
    val a = unloaded.activeColumns.map(_.name)
    val b = reload.activeColumns.map(_.name)
    if (a == b) Seq.empty
    else Seq(Finding(reload.name.identifier, "reload_consistency",
      s"columns differ: unloaded=${a.mkString(",")} reload=${b.mkString(",")}"))
  }

  // ------------------------------------------------------------- C9
  /** Execution-order validation (validate.py:525-540): the whole DAG
    * must order without cycles. */
  def executionOrder(relations: Seq[Relation]): Seq[Finding] =
    try { Dag.orderByDependencies(relations); Seq.empty }
    catch { case e: CyclicDependencyError =>
      Seq(Finding("*", "execution_order", e.getMessage)) }

  /** The `validate` command (validate.py:543-577): design semantics
    * (C6), dry-runs (C5), and ordering (C9) over a relation set. */
  def validateAll(spark: SparkSession, relations: Seq[Relation]): Seq[Finding] = {
    val designFindings = relations.flatMap { r =>
      try { r.design.validate(); Seq.empty[Finding] }
      catch { case e: TableDesignError =>
        Seq(Finding(r.identifier, "design", e.getMessage)) }
    }
    // The managed set is the relation set's own schemas — anything
    // else a query reads is an external source, validated with
    // late-binding tolerance (validate.py:205-208).
    val managed = relations.map(_.name.schema).filter(_.nonEmpty).toSet
    val dryRuns = relations.filter(_.isTransformation)
      .flatMap(r => transformDryRun(spark, r.design, Some(managed)))
    designFindings ++ dryRuns ++ executionOrder(relations)
  }
}
