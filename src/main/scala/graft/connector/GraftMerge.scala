package graft.connector

import graft.ingest.{FileStats, Snapshots}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, ExprId, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.graft.{Bridge, ColumnBridge}

/** SQL `MERGE INTO` / `UPDATE` on graft tables, planned as a DRIVER-
  * COORDINATED atomic snapshot change instead of Spark's
  * SupportsRowLevelOperations machinery. Spark leaves a fully-analyzed
  * [[MergeIntoTable]]/[[UpdateTable]] for the planner when the table
  * doesn't implement row-level ops (it fails in `BasicOperators`), so a
  * planner strategy — the same runtime-installable seam as
  * `TopKPerKeyStrategy` — is the whole integration surface.
  *
  * Execution is merge-on-read, not copy-on-write: the target scans ONCE
  * with row coordinates, every row an action removes or replaces becomes
  * a deletion-vector entry, replacement/insert rows append as new files,
  * and both legs publish as one `merge` commit
  * ([[Snapshots.applyRowChanges]]) with serializable conflict detection.
  * At 100 TB a MERGE touching 0.1% of rows costs one pruned target scan
  * + a changed-rows-sized write — no touched-file rewrite, which is what
  * the group-based (copy-on-write) rewrite Spark would otherwise ask a
  * DSv2 source for would cost. The reference engine has no DML at all;
  * this is the "maintain your stored blocks from SQL" surface.
  *
  * Semantics follow SQL MERGE: clause order is first-match-wins within
  * each of the three groups (matched / not matched / not matched by
  * source), a target row matched by MORE than one source row errors
  * (cardinality check, same contract as Spark/Delta), unassigned columns
  * keep their value on UPDATE and null-fill on INSERT, and every
  * assignment coerces to the target column type.
  */
object GraftMergeStrategy extends SparkStrategy {

  /** The graft base path behind a (possibly aliased/projected) target
    * relation, refusing pins — DML targets the current table state.
    */
  private def graftBase(plan: LogicalPlan): Option[String] = {
    // By planning time the optimizer's early pushdown has usually turned
    // the target's DataSourceV2Relation into a DataSourceV2ScanRelation —
    // match both shapes.
    def tableOf(p: LogicalPlan): Option[GraftTable] = p.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        r.table.asInstanceOf[GraftTable]
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.relation.table.isInstanceOf[GraftTable] =>
        r.relation.table.asInstanceOf[GraftTable]
    }
    tableOf(plan).map { t =>
      require(t.tablePin == Snapshots.Pin.Latest,
        "MERGE/UPDATE target the current table state - drop the " +
          "versionAsOf/tag/branch option")
      t.tableBase
    }
  }

  /** Whether the target relation was loaded through a catalog — the
    * precondition for the analyzer's schema-evolution rule to have had an
    * identifier to ALTER. A path-loaded table (`format("graft").load`)
    * cannot evolve, and honoring WITH SCHEMA EVOLUTION as a silent no-op
    * there would drop the user's request.
    */
  private def hasCatalog(plan: LogicalPlan): Boolean = plan.collectFirst {
    case r: DataSourceV2Relation => r.catalog.isDefined
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      r.relation.catalog.isDefined
  }.getOrElse(false)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case m: MergeIntoTable =>
      graftBase(m.targetTable).map { base =>
        require(!m.withSchemaEvolution || hasCatalog(m.targetTable),
          "MERGE WITH SCHEMA EVOLUTION needs a catalog-managed graft " +
            "table (the evolution is an ALTER TABLE through the catalog) " +
            "- path-loaded tables cannot evolve; drop the keyword or " +
            "register the table in a graft catalog")
        GraftMergeExec(base, m.targetTable.output, m.sourceTable,
          m.mergeCondition, m.matchedActions, m.notMatchedActions,
          m.notMatchedBySourceActions, m.withSchemaEvolution)
      }.toSeq
    case u: UpdateTable =>
      graftBase(u.table).map { base =>
        GraftUpdateExec(base, u.table.output, u.assignments, u.condition)
      }.toSeq
    // Translatable DELETE predicates never reach here: the optimizer's
    // metadata-only rewrite routes them to SupportsDelete
    // (GraftTable.deleteWhere) first. This catches the remainder — any
    // deterministic predicate shape — as the same DV delete.
    case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable =>
      graftBase(d.table).map { base =>
        GraftDeleteExec(base, d.table.output, d.condition)
      }.toSeq
    case _ => Nil
  }
}

private[connector] case class GraftMergeExec(
    base: String, tOut: Seq[Attribute], source: LogicalPlan,
    cond: Expression, matched: Seq[MergeAction],
    notMatched: Seq[MergeAction], notMatchedBySource: Seq[MergeAction],
    withSchemaEvolution: Boolean) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val done: Unit = GraftRowLevel.runMerge(
    session, base, tOut, source, cond, matched, notMatched,
    notMatchedBySource, withSchemaEvolution)
  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    done; sparkContext.emptyRDD[InternalRow]
  }
}

private[connector] case class GraftUpdateExec(
    base: String, tOut: Seq[Attribute], assignments: Seq[Assignment],
    cond: Option[Expression]) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val done: Unit =
    GraftRowLevel.runUpdate(session, base, tOut, assignments, cond)
  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    done; sparkContext.emptyRDD[InternalRow]
  }
}

private[connector] case class GraftDeleteExec(
    base: String, tOut: Seq[Attribute], cond: Expression) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val done: Unit =
    GraftRowLevel.runDelete(session, base, tOut, cond)
  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    done; sparkContext.emptyRDD[InternalRow]
  }
}

private[connector] object GraftRowLevel {

  private def quote(n: String): String = s"`${n.replace("`", "``")}`"

  /** Analyzed merge-clause expression → Column over the renamed join
    * frame: target/source attribute references rewrite BY EXPR ID to the
    * positional aliases (`__t_i`/`__s_j`), which survive duplicate names
    * on either side. Subqueries inside clauses are refused loudly.
    */
  private def substitute(e: Expression, mapping: Map[ExprId, String]): Column = {
    require(!e.exists(_.isInstanceOf[PlanExpression[_]]),
      s"subqueries are not supported in graft MERGE/UPDATE clauses: $e")
    ColumnBridge.column(e.transform {
      case a: AttributeReference =>
        UnresolvedAttribute(Seq(mapping.getOrElse(a.exprId,
          throw new IllegalArgumentException(
            s"MERGE clause references $a, which is neither the target nor the source"))))
    })
  }

  /** The scan the exec sees must still be SHAPE-compatible with the plan
    * the analyzer resolved — a concurrent schema change between analysis
    * and execution would otherwise bind values positionally to the wrong
    * attributes. Count alone misses same-arity drift (drop+add), so
    * compare positional data types too (names legitimately differ only
    * through rename, which keeps the type).
    */
  def checkDrift(scan: DataFrame, dataCols: Seq[String],
                 tOut: Seq[Attribute]): Unit = {
    val scanTypes = dataCols.map(c => scan.schema(c).dataType)
    // nullability-insensitive: the snapshot layer stores everything
    // nullable while plan attributes may carry tighter nullability
    val ok = scanTypes.size == tOut.size &&
      scanTypes.zip(tOut).forall { case (a, b) =>
        org.apache.spark.sql.types.DataType.equalsStructurally(
          a, b.dataType, ignoreNullability = true)
      }
    require(ok,
      s"target schema drift: scan columns (${scanTypes.mkString(",")}) no " +
        s"longer match the analyzed plan (${tOut.map(_.dataType).mkString(",")}) " +
        "- a concurrent schema change landed; re-run the statement")
  }

  /** Refuse assignment keys that are not top-level target columns
    * (nested fields arrive as GetStructField keys) — they would
    * otherwise silently fail the per-field exprId match and keep the old
    * value, completing the statement having changed nothing.
    */
  def checkAssignmentKeys(assigns: Seq[Assignment], tOut: Seq[Attribute],
                          alwaysIdentity: Set[String] = Set.empty,
                          nullIsFill: Boolean = true): Unit =
    assigns.foreach { asn =>
      asn.key match {
        case k: AttributeReference =>
          require(tOut.exists(_.exprId == k.exprId),
            s"assignment targets $k, which is not a column of the target table")
          // GENERATED ALWAYS AS IDENTITY admits no explicit value, and
          // the DML legs carry complete rows past the generator's
          // carrier mode (which fills NULL slots but KEEPS explicit
          // values) — so the assignment list is the last gate where
          // `UPDATE t SET id = <v>` / `INSERT (id, ...)` can refuse
          // instead of silently reassigning identities the ledger never
          // learns about (duplicate ids on the next allocation). A
          // trivial self-assignment (SET id = id) stays legal. The
          // name set comes from the table's OWN schema header — plan
          // attributes don't reliably carry identity metadata through
          // the V2 column conversion.
          val selfAssign = asn.value match {
            case v: AttributeReference => v.exprId == k.exprId
            // On INSERT legs an explicit NULL is "fill for me" (the
            // carrier-mode generator allocates NULL slots), and
            // analyzer-aligned assignment lists NULL-fill omitted insert
            // columns — both must stay legal. On UPDATE legs the row
            // already HAS an identity, so `SET id = NULL` would route the
            // row through the generator's NULL-slot fill and silently
            // allocate a FRESH id — exactly the reassignment the error
            // below claims to refuse; treat it as an explicit value there.
            case org.apache.spark.sql.catalyst.expressions.Literal(null, _) =>
              nullIsFill
            case _ => false
          }
          if (!selfAssign && alwaysIdentity.contains(k.name))
            throw new IllegalArgumentException(
              s"column ${k.name} is GENERATED ALWAYS AS IDENTITY - " +
                "explicit values are not accepted in UPDATE/MERGE " +
                "assignments; omit the column (or declare it GENERATED " +
                "BY DEFAULT)")
        case other => throw new UnsupportedOperationException(
          s"nested-field assignment to $other is not supported on graft " +
            "tables - assign the whole top-level column")
      }
    }

  /** Names of the table's GENERATED ALWAYS AS IDENTITY columns, from the
    * snapshot schema header (the same source the generator fill reads).
    */
  def alwaysIdentityCols(base: String): Set[String] = {
    import org.apache.spark.sql.catalyst.util.IdentityColumn
    Snapshots.headSchema(base).map(_.fields.collect {
      case f if IdentityColumn.isIdentityColumn(f) &&
        !IdentityColumn.getIdentityInfo(f).get.isAllowExplicitInsert => f.name
    }.toSet).getOrElse(Set.empty)
  }

  /** 1-based index of the FIRST action whose condition holds, else 0 —
    * SQL MERGE's clause-order semantics as one when-chain.
    */
  private def firstAction(actions: Seq[MergeAction],
                          condOf: MergeAction => Column): Column =
    actions.zipWithIndex.foldLeft(Option.empty[Column]) { case (acc, (a, i)) =>
      Some(acc match {
        case Some(c) => c.when(condOf(a), i + 1)
        case None    => when(condOf(a), i + 1)
      })
    }.map(_.otherwise(0)).getOrElse(lit(0))

  def runMerge(spark: SparkSession, base: String, tOut: Seq[Attribute],
               source: LogicalPlan, cond: Expression,
               matched: Seq[MergeAction], notMatched: Seq[MergeAction],
               notMatchedBySource: Seq[MergeAction],
               withSchemaEvolution: Boolean): Unit = {
    // withSchemaEvolution: nothing left to do here. The analyzer's
    // ResolveMergeIntoSchemaEvolution already applied the schema delta
    // through the catalog (GraftTable declares AUTOMATIC_SCHEMA_EVOLUTION)
    // and re-resolved the target, so tOut carries the evolved schema and
    // the assignment machinery below needs no special case. The
    // catalog-less path (format("graft") by path) is refused in
    // GraftMergeStrategy.apply — silently ignoring the keyword there
    // would drop the user's requested evolution.
    val (fileCol, posCol) = Snapshots.rowCoordColumns
    val tNames = tOut.indices.map(i => s"__t_$i")
    val sOut = source.output
    val sNames = sOut.indices.map(i => s"__s_$i")
    val mapping: Map[ExprId, String] =
      (tOut.map(_.exprId) zip tNames).toMap ++ (sOut.map(_.exprId) zip sNames)
    val sAliased = Bridge.ofRows(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], source)
      .toDF(sNames: _*)
      .withColumn("__sx", lit(true))

    // Runtime target-file pruning by the source's equi-key envelope —
    // the same move as Snapshots.merge, lifted to arbitrary ON
    // conditions: every top-level `t.col = <source-only expr>` conjunct
    // contributes a key column, the source runs once to derive the
    // envelope ([[FileStats.keyFilters]]), and target files that can't
    // hold any matched row never reach the scan. Sound ONLY without NOT
    // MATCHED BY SOURCE clauses (those need every unmatched target row),
    // and only worth the extra source evaluation when the target is big —
    // a small target's full scan is cheaper than re-running the source,
    // so the same size estimate that picks the cardinality-check shape
    // gates this too (unknown size counts as big on the target side).
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    val targetIds = tOut.map(_.exprId).toSet
    val sourceIds = sOut.map(_.exprId).toSet
    val sizeCap = spark.conf.getOption("spark.graft.merge.smallTargetBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val equiKeys: Seq[(Attribute, Expression)] =
      if (notMatchedBySource.nonEmpty ||
          Snapshots.scanStats(base)._1.exists(_ <= sizeCap)) Nil
      else conjuncts(cond).collect {
        case EqualTo(a: AttributeReference, r) if targetIds(a.exprId) &&
            r.references.forall(x => sourceIds(x.exprId)) && r.deterministic =>
          (tOut.find(_.exprId == a.exprId).get, r)
        case EqualTo(l, a: AttributeReference) if targetIds(a.exprId) &&
            l.references.forall(x => sourceIds(x.exprId)) && l.deterministic =>
          (tOut.find(_.exprId == a.exprId).get, l)
      }
    val maxInKeys = spark.conf.getOption("spark.graft.prune.maxInKeys")
      .map(_.toInt).getOrElse(10000)
    // None envelope = no source row can equi-match (empty / all-null key):
    // scan an empty target — inserts still flow through the outer join.
    val envelope: Option[Seq[org.apache.spark.sql.sources.Filter]] =
      if (equiKeys.isEmpty) Some(Nil)
      else FileStats.keyFilters(
        sAliased.select(equiKeys.map { case (ta, e) =>
          substitute(e, mapping).as(ta.name) }: _*).distinct(),
        maxInKeys)
    val (t0raw, v0) = Snapshots.scanWithCoords(spark, base, envelope.getOrElse(Nil))
    val t0 = if (envelope.isEmpty) t0raw.filter(lit(false)) else t0raw
    // A lineage table's coordinate scan carries `_row_id` — ride it
    // beside the coordinates so update legs keep their row's id (Delta
    // row tracking's preserved-on-update rule); insert legs carry NULL
    // and applyRowChanges fills them from a claimed range.
    val ridCol = Snapshots.RowIdCol
    // Gate on ENABLEMENT, not column name: a non-lineage table may carry
    // a legitimate user column named `_row_id` (commit only reserves the
    // name when lineage is on) — treating it as the lineage column would
    // drop it from dataCols and fail checkDrift on every MERGE.
    val hasRid = Snapshots.rowLineageEnabled(base) && t0.columns.contains(ridCol)
    val dataCols = t0.columns
      .filterNot(c => c == fileCol || c == posCol || (hasRid && c == ridCol)).toSeq
    GraftRowLevel.checkDrift(t0, dataCols, tOut)

    val tAliased = t0.select(
      dataCols.zipWithIndex.map { case (c, i) => col(quote(c)).as(tNames(i)) } ++
        Seq(col(fileCol).as("__tf"), col(posCol).as("__tp"), lit(true).as("__tx")) ++
        (if (hasRid) Seq(col(quote(ridCol)).as("__trid")) else Nil): _*)

    val joinType = (notMatched.nonEmpty, notMatchedBySource.nonEmpty) match {
      case (true, true)   => "full_outer"
      case (true, false)  => "right_outer"
      case (false, true)  => "left_outer"
      case (false, false) => "inner"
    }
    val joined = tAliased.join(sAliased, substitute(cond, mapping), joinType)
    val isMatched = col("__tx").isNotNull && col("__sx").isNotNull
    val tOnly = col("__tx").isNotNull && col("__sx").isNull
    val sOnly = col("__tx").isNull && col("__sx").isNotNull

    def condOf(a: MergeAction): Column =
      a.condition.map(substitute(_, mapping)).getOrElse(lit(true))

    // Every assignment key must be a TOP-LEVEL target column: a
    // GetStructField key (UPDATE SET s.x = …) would silently no-op if it
    // merely failed the per-field match below, so refuse up front.
    val alwaysIdent = GraftRowLevel.alwaysIdentityCols(base)
    (matched ++ notMatched ++ notMatchedBySource).foreach {
      case u: UpdateAction =>
        GraftRowLevel.checkAssignmentKeys(u.assignments, tOut, alwaysIdent,
          nullIsFill = false)
      case ins: InsertAction =>
        GraftRowLevel.checkAssignmentKeys(ins.assignments, tOut, alwaysIdent)
      case _ => ()
    }

    /** Per-target-field value of `action`, `default` when unassigned. */
    def fieldValue(action: MergeAction, i: Int, default: Column): Column = {
      val ta = tOut(i)
      def fromAssignments(assigns: Seq[Assignment]): Column =
        assigns.find(_.key match {
          case k: AttributeReference => k.exprId == ta.exprId
          case _ => false
        }).map { asn =>
          substitute(asn.value, mapping).cast(ta.dataType)
        }.getOrElse(default)
      action match {
        case u: UpdateAction => fromAssignments(u.assignments)
        case ins: InsertAction => fromAssignments(ins.assignments)
        // star forms: every target column takes the SAME-NAMED source
        // column (resolution normally expands these; handle them anyway)
        case _: UpdateStarAction | _: InsertStarAction =>
          val j = sOut.indexWhere(_.name == ta.name)
          require(j >= 0, s"MERGE * has no source column named ${ta.name}")
          col(sNames(j)).cast(ta.dataType)
        case d: DeleteAction =>
          throw new IllegalStateException(s"delete action $d produces no row")
      }
    }

    // The PERSISTED working frame holds only rows where an action
    // actually FIRES — delete/insert legs both derive from it, so its
    // footprint is changed-rows-sized even under a broadly-matching ON
    // condition whose clause conditions select almost nothing (persisting
    // every matched pair there would cache a near-table-sized frame; the
    // round-7 shape did exactly that to feed the cardinality check). The
    // cardinality contract instead runs as a SEPARATE count-only
    // aggregate over the join: no row payload, so Catalyst prunes it to
    // the join keys + (file, pos) — a second pass over the target, but a
    // columnar scan-and-count, not a table-sized cache. EXCEPT for small
    // targets, where two scans cost more than caching every matched pair:
    // the manifest-derived size (the same estimate join selection uses)
    // picks the shape — below the threshold the matched pairs ride the
    // persisted frame and the check reads the cache, one target scan
    // total; above it, or when the size is unknown, the two-pass shape
    // keeps the cache changed-rows-sized. The SOURCE side gates too: the
    // cached matched-pair set is bounded by target rows × source match
    // multiplicity, so a tiny target merged against a huge (or unknown-
    // sized) source could still inflate the cache past the cap before
    // the cardinality check gets a chance to refuse the duplicates —
    // Catalyst's own plan-size estimate (which defaults to "huge" when
    // it cannot tell, conservative in the safe direction) vetoes the
    // single-pass shape for such sources.
    val smallTarget = matched.nonEmpty && {
      val cap = spark.conf.getOption("spark.graft.merge.smallTargetBytes")
        .map(_.toLong).getOrElse(256L << 20)
      Snapshots.scanStats(base, Snapshots.Pin.AsOf(v0))._1.exists(_ <= cap) &&
        sAliased.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(cap) && {
          // Input stats bound the INPUTS, not the join: a many-to-many ON
          // condition inflates matched pairs far past both sides, and the
          // single-pass shape would cache them all before the cardinality
          // check could refuse the duplicates. Probe with a COUNT-LIMITED
          // pass (LocalLimit stops each task at the cap, so the probe
          // reads at most cap+1 matched pairs no matter how explosive the
          // join is) and keep the two-pass changed-rows-sized shape when
          // the cap is exceeded.
          val rowCap = spark.conf
            .getOption("spark.graft.merge.smallTargetMaxMatched")
            .map(_.toLong).getOrElse(1L << 22)
          val probeLimit = math.min(rowCap + 1, Int.MaxValue.toLong).toInt
          joined.filter(isMatched).limit(probeLimit).count() <= rowCap
        }
    }
    val mAct = when(isMatched, firstAction(matched, condOf)).otherwise(0)
    val iAct = when(sOnly, firstAction(notMatched, condOf)).otherwise(0)
    val nAct = when(tOnly, firstAction(notMatchedBySource, condOf)).otherwise(0)
    val keepForCheck = if (smallTarget) col("__im") else lit(false)
    val working = joined
      .withColumn("__m", mAct).withColumn("__i", iAct).withColumn("__n", nAct)
      .withColumn("__im", isMatched)
      .filter(keepForCheck || col("__m") > 0 || col("__i") > 0 || col("__n") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // SQL MERGE cardinality contract: a target row matched by more than
      // one source row is nondeterministic under UPDATE/DELETE — error,
      // the same behavior as Spark's row-level path and Delta. Checked
      // over ALL matched pairs (not just firing rows: a duplicate match
      // whose clauses fire on only one copy is still nondeterministic).
      if (matched.nonEmpty) {
        val matchedPairs =
          if (smallTarget) working.filter(col("__im")) else joined.filter(isMatched)
        val dup = matchedPairs
          .select(col("__tf"), col("__tp"))
          .groupBy(col("__tf"), col("__tp"))
          .count().filter(col("count") > 1).limit(1).count()
        if (dup > 0) throw new IllegalStateException(
          "MERGE cardinality violation: a target row matches more than one " +
            "source row; aggregate or de-duplicate the source first")
      }

      val keepOriginal: Int => Column = i => col(tNames(i))
      val nullFill: Int => Column = i => lit(null).cast(tOut(i).dataType)

      /** Replacement/insert rows of one clause group from the working
        * frame: rows whose group index (`actCol`) selected a producing
        * action, each column a when-chain over those actions.
        */
      def produces(actCol: Column, actions: Seq[MergeAction],
                   defaultOf: Int => Column,
                   rid: Option[Column]): Option[DataFrame] = {
        val producing = actions.zipWithIndex
          .collect { case (a, i) if !a.isInstanceOf[DeleteAction] => (a, i + 1) }
        if (producing.isEmpty) None
        else Some {
          working.filter(actCol.isin(producing.map(_._2): _*))
            .select(tOut.indices.map { i =>
              producing.tail.foldLeft(
                when(actCol === producing.head._2,
                  fieldValue(producing.head._1, i, defaultOf(i)))) {
                case (c, (a, k)) =>
                  c.when(actCol === k, fieldValue(a, i, defaultOf(i)))
              }.as(tOut(i).name)
            } ++ rid.map(_.as(ridCol)).toSeq: _*)
        }
      }

      // every fired matched/not-matched-by-source action removes the
      // original row (updates re-insert the replacement); insert-group
      // rows have no target side to remove
      val deletes = working.filter(col("__m") > 0 || col("__n") > 0)
        .select(col("__tf").as(fileCol), col("__tp").as(posCol))
      // update / not-matched-by-source legs keep the row's id; insert
      // legs mint (NULL → filled from the ledger inside applyRowChanges)
      val keepRid = if (hasRid) Some(col("__trid")) else None
      val mintRid = if (hasRid) Some(lit(null).cast("long")) else None
      val inserts = Seq(
        produces(col("__m"), matched, keepOriginal, keepRid),
        produces(col("__i"), notMatched, nullFill, mintRid),
        produces(col("__n"), notMatchedBySource, keepOriginal, keepRid)
      ).flatten.reduceOption(_.unionAll(_))
      Snapshots.applyRowChanges(spark, base, v0, deletes, inserts, modeTag = "sql")
    } finally working.unpersist()
    ()
  }

  /** SQL DELETE whose predicate Spark could not translate to data-source
    * filters: rewrite the condition onto the table's own column names and
    * hand it to the DV delete — full expression power (functions, CASE,
    * arithmetic), same metadata-only commit.
    */
  def runDelete(spark: SparkSession, base: String, tOut: Seq[Attribute],
                cond: Expression): Unit = {
    val mapping = tOut.map(a => a.exprId -> a.name).toMap
    Snapshots.deleteWhereDV(spark, base, substitute(cond, mapping))
    ()
  }

  /** SQL UPDATE: the one-action, no-source special case of the same
    * pipeline — matched rows' coordinates DV-delete, updated rows append.
    */
  def runUpdate(spark: SparkSession, base: String, tOut: Seq[Attribute],
                assignments: Seq[Assignment], cond: Option[Expression]): Unit = {
    checkAssignmentKeys(assignments, tOut, alwaysIdentityCols(base),
      nullIsFill = false)
    // A selective WHERE prunes the coordinate scan at planning time (the
    // deleteWhereDV discipline): rewrite the condition onto the table's
    // own names, translate what's pushable, and never plan files whose
    // stats refuse it. Untranslatable shapes prune nothing and the full
    // condition still filters every surviving row below.
    val pruneFs = cond.map { c =>
      val real = substitute(c, tOut.map(a => a.exprId -> a.name).toMap)
      val schema = org.apache.spark.sql.types.StructType(
        tOut.map(a => org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))
      org.apache.spark.sql.graft.Bridge.pushableFilters(spark, schema, real)
    }.getOrElse(Nil)
    val (t0, v0) = Snapshots.scanWithCoords(spark, base, pruneFs)
    val (fileCol, posCol) = Snapshots.rowCoordColumns
    // lineage: updated rows KEEP their `_row_id` — the id rides the scan
    // beside the coordinates and passes through the assignment select
    val ridCol = Snapshots.RowIdCol
    // Same enablement gate as runMerge: a user `_row_id` data column on a
    // non-lineage table must stay in dataCols.
    val hasRid = Snapshots.rowLineageEnabled(base) && t0.columns.contains(ridCol)
    val dataCols = t0.columns
      .filterNot(c => c == fileCol || c == posCol || (hasRid && c == ridCol)).toSeq
    checkDrift(t0, dataCols, tOut)
    val tNames = tOut.indices.map(i => s"__t_$i")
    val mapping = (tOut.map(_.exprId) zip tNames).toMap
    val aliased = t0.select(
      dataCols.zipWithIndex.map { case (c, i) => col(quote(c)).as(tNames(i)) } ++
        Seq(col(fileCol), col(posCol)) ++
        (if (hasRid) Seq(col(quote(ridCol))) else Nil): _*)
    // Persisted like runMerge's working frame: the delete-coords leg and
    // the updated-rows leg must see the SAME row set — re-running the
    // scan+filter would diverge under a nondeterministic predicate (rows
    // vanishing or duplicating), and even deterministically it would cost
    // a second full target scan.
    val hit = cond.map(c => aliased.filter(substitute(c, mapping))).getOrElse(aliased)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val updated = hit.select(tOut.indices.map { i =>
        val ta = tOut(i)
        assignments.find(_.key match {
          case k: AttributeReference => k.exprId == ta.exprId
          case _ => false
        }).map(asn => substitute(asn.value, mapping).cast(ta.dataType))
          .getOrElse(col(tNames(i)))
          .as(ta.name)
      } ++ (if (hasRid) Seq(col(quote(ridCol))) else Nil): _*)
      Snapshots.applyRowChanges(spark, base, v0,
        hit.select(col(fileCol), col(posCol)), Some(updated),
        modeTag = "sql-update")
    } finally hit.unpersist()
    ()
  }
}
