package graft.sql

import graft.meta.SnapshotCatalog
import graft.sinks.Writers
import org.apache.spark.sql.{GraftColumnShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}

/** SQL DML over catalog tables through pure `SparkSessionExtensions` —
  * the write half of the SQL-only deployment story (S50 gave it reads +
  * time travel; this gives it writes):
  *
  *   INSERT INTO t SELECT ... / VALUES ...        -- snapshot append
  *   INSERT INTO t (c1, c2) VALUES ...            -- missing cols → write-
  *                                                --   default (S61) or NULL
  *   INSERT OVERWRITE t SELECT ...                -- full-table replace
  *   DELETE FROM t WHERE <cond>                   -- MoR position delete
  *   UPDATE t SET c = <expr> [WHERE <cond>]       -- COW self-merge
  *   MERGE INTO t USING s ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *             -- key upsert
  *   MERGE INTO t USING s ON t.k = s.k            -- CDC apply: clause
  *     WHEN MATCHED AND s.op = 'D' THEN DELETE    -- conditions are
  *     WHEN MATCHED THEN UPDATE SET *             -- SOURCE-side facts,
  *     WHEN NOT MATCHED AND s.op <> 'D'           -- first match wins
  *       THEN INSERT *
  *   ALTER TABLE t ADD COLUMNS (c TYPE, ...)      -- metadata-only DDL
  *   ALTER TABLE t DROP COLUMN [IF EXISTS] c      --   (zero data bytes,
  *   ALTER TABLE t RENAME COLUMN a TO b           --    one snapshot each)
  *   ALTER TABLE t ADD COLUMNS (c T DEFAULT lit [NOT NULL])  -- S61: old
  *     files read the literal (initial-default), writes omitting the
  *     column fill it (write-default)
  *   ALTER TABLE t ALTER COLUMN c SET/DROP DEFAULT lit  -- future writes
  *   ALTER TABLE t ALTER COLUMN c SET/DROP NOT NULL     -- commit-time
  *     enforcement from the stats pass; SET proves no visible null first
  *   CREATE TABLE graft.t AS SELECT ...           -- CTAS (the `graft.`
  *     namespace is the claim signal: the table doesn't exist yet, so
  *     name resolution can't arbitrate — bare-name CTAS stays with the
  *     session catalog)
  *   CALL graft.compact('t')                      -- SQL maintenance
  *   CALL graft.expire_snapshots('t', retain_last => 3)
  *   CALL graft.remove_orphans('t', grace_s => 0)
  *   CALL graft.rollback('t', 4)                  --   (the Iceberg
  *   CALL graft.cherrypick('t', 7)                --    procedure
  *   CALL graft.clone('t', 't2')                  --    surface)
  *   CALL graft.tag('t', 'prod' [, version =>v])  -- named refs: tag,
  *   CALL graft.branch('t', 'dev')                --    branch, and a
  *   INSERT INTO `t/branches/dev` VALUES ...      --    backquoted ref
  *   CALL graft.fast_forward('t', 'dev')          --    is a full table
  *   CALL graft.changelog('t', from [, to,        -- CDC feed as a
  *     view => 'name', mode => 'net'|'percommit'])--    queryable view
  *   CALL graft.delete_by_keys('t', 'k', 'v1,v2') -- zero-scan equality
  *                                                --    delete (GDPR path)
  *   CALL graft.create_mv('mv', 'src', 'k1,k2'    -- incremental agg
  *     [, 'c1,c2'])                               --    view: build, then
  *   CALL graft.refresh_mv('mv')                  --    CDC-fold refresh
  *   CALL graft.materialize_deletes('t')          -- fold MoR masks into
  *                                                --    rewritten files
  *   CALL graft.cache('t' [, predicate => 'p',    -- keyed cache: persist
  *     columns => 'c1,c2', view => 'name'])       --    + serve as a view
  *   CALL graft.uncache('t')                      -- invalidate a table
  *   CALL graft.expire_cache(ttl_ms)              -- TTL sweep
  *   CALL graft.cache_stats()                     -- hits/misses/budget
  *   CALL graft.check('t', 'pred', ...[,          -- data-quality audit:
  *     unique => 'k1,k2', staged => 'id'])        --    violations/rule
  *   CALL graft.stage('t', 'SELECT ...')          -- write-audit-publish
  *   CALL graft.staged('t')                       --    from pure SQL:
  *   CALL graft.publish_staged('t', 'id')         --    stage invisibly,
  *   CALL graft.publish_if_clean('t', 'id',       --    audit, publish
  *     'pred', ...[, unique => 'k'])              --    iff clean,
  *   CALL graft.discard_staged('t', 'id')         --    or discard
  *   ALTER TABLE t RENAME TO t2                   -- metadata-only move;
  *                                                --    data stays put
  *   COMMENT ON TABLE t IS 'x' | NULL             -- table + column
  *   ALTER TABLE t ALTER COLUMN c COMMENT 'x'     --    comments ('' =
  *   CREATE TABLE graft.t (c T COMMENT 'x')       --    clear); DESCRIBE
  *     COMMENT 'table text'                       --    + SHOW CREATE
  *                                                --    render them
  *   SHOW TBLPROPERTIES t [('key')]               -- manifest props
  *   ALTER TABLE t SET TBLPROPERTIES (            -- sticky index
  *     'graft.bloom.columns' = 'c1,c2')           --    enable+backfill
  *   ALTER TABLE t UNSET TBLPROPERTIES [IF EXISTS]-- (same code path as
  *     ('graft.sketch.columns')                   --    CALL graft.index)
  *   CALL graft.expire_rows('t', 'ts', cutoff_ms  -- compliance TTL
  *     => t | older_than_ms => age)               --    sweep (MoR mask)
  *   ALTER TABLE t SET TBLPROPERTIES (            -- retention policy
  *     'graft.retention.snapshots' = '10',        --    lives WITH the
  *     'graft.retention.ms' = '604800000')        --    table; then
  *   CALL graft.enforce_retention(['t'])          --    one scheduled
  *                                                --    sweep (no args =
  *                                                --    every opted-in
  *                                                --    table)
  *   CALL graft.ingest('t', '/landing' [,         -- idempotent COPY
  *     format => 'csv', pattern => '*.csv',       --    INTO: loads only
  *     header => 'true', ...reader opts])         --    files not yet
  *                                                --    ingested
  *   CALL graft.export('t', '/out' [, format =>,  -- the inverse: write
  *     version => id|'tag', where => 'pred',      --    a table state to
  *     overwrite => true, ...writer opts])        --    external files
  *   CREATE TABLE graft.t (c1 BIGINT, c2 STRING)  -- empty first snapshot
  *   CREATE [OR REPLACE] VIEW graft.v AS SELECT.. -- stored SQL views
  *   ALTER VIEW v AS SELECT ...                   --   (versioned defs,
  *   DROP VIEW [IF EXISTS] v                      --    S62; drops refuse
  *                                                --    under dependents)
  *   SELECT ... FROM v VERSION AS OF 2            -- historical view
  *                                                --    definition
  *   SHOW TABLES IN graft [LIKE 'p*']             -- catalog discovery
  *   SHOW VIEWS IN graft [LIKE 'p*']              --   (S63): enumerate +
  *   DESCRIBE [EXTENDED] t_or_v                   --    inspect from SQL
  *   SHOW CREATE TABLE t_or_v                     -- round-trippable DDL
  *   SHOW PARTITIONS t [PARTITION (k='v')]        -- manifest-answered
  *   TRUNCATE TABLE t                             -- replace with empty
  *   DROP TABLE [IF EXISTS] graft.t [PURGE]       -- metadata (+ PURGE:
  *                                                --    main-history files)
  *
  * Spark-first mechanics: the parser already produces
  * [[InsertIntoStatement]] / [[DeleteFromTable]] / [[MergeIntoTable]];
  * a hint-batch rule claims the statement when its target is a catalog
  * table (so the builtin v2 analyzer never sees it and can't reject it
  * as "not a v2 table") and swaps in a [[LeafRunnableCommand]] that
  * routes to the SAME writer code paths the Scala API uses —
  * [[Writers.writeSnapshot]] / [[Writers.replaceSnapshot]] /
  * [[Writers.deleteWhereMoR]] / [[Writers.mergeInto]] — so SQL writes
  * get identical commit semantics: optimistic serializable intents,
  * CDC-exact feeds, sticky bloom/sketch maintenance.
  *
  * The captured source/query subplan is NOT a child of the command
  * (LeafRunnableCommand), so the outer analyzer leaves it alone; the
  * command analyzes it at RUN time on the live session, where catalog
  * tables inside it resolve through the injected read rules (an
  * `INSERT INTO t SELECT * FROM other_catalog_table` works end-to-end
  * in SQL).
  *
  * Scale notes: DELETE routes to the MERGE-ON-READ path — a WHERE whose
  * literal conjuncts translate to prune filters bounds the marking scan
  * to the files that could match (GDPR-sized deletes stay metadata-
  * sized at 100 TB); MERGE's rewrite set is key-range-bounded by the
  * source (Writers.mergeInto's keyBoundFilters). A DELETE whose
  * predicate matches most of the table should use the COW API instead —
  * same trade the Scala surface documents. */
object GraftDml {
  /** Data files written by SQL DML land under `<root>/<table>/data`
    * unless `spark.graft.catalog.dataDir` overrides the base. */
  val DataDirConf = "spark.graft.catalog.dataDir"

  /** `SHOW ... LIKE` pattern semantics (Spark's filterPattern): `*`
    * matches any characters, `|` separates alternatives, matching is
    * case-insensitive; everything else is literal. */
  def showPatternMatches(pattern: Option[String], name: String): Boolean =
    pattern.forall(_.split("\\|").exists { p =>
      val rx = p.trim.split("\\*", -1)
        .map(java.util.regex.Pattern.quote).mkString(".*")
      java.util.regex.Pattern
        .compile(rx, java.util.regex.Pattern.CASE_INSENSITIVE)
        .matcher(name).matches()
    })

  /** The full engine-owned TBLPROPERTIES key set — derived from the
    * catalog's canonical sticky lists so CREATE, SET/UNSET and SHOW
    * CREATE can never drift apart (a new sticky prop is automatically
    * accepted everywhere it is emitted). */
  private[sql] def ownedProps: Set[String] =
    graft.meta.SnapshotCatalog.StickyProps.toSet

  /** Normalize a sticky value for STORAGE: everything but the free-text
    * comment trims — the stored value must be exactly what enforcement
    * later parses, or a whitespace-padded policy validates at
    * declaration and throws at the 3 a.m. sweep. */
  private[sql] def normalizeSticky(k: String, v: String): String =
    if (k == graft.meta.SnapshotCatalog.CommentProp) v else v.trim

  /** Validate one engine-owned sticky VALUE prop at declaration time
    * (shared by SET TBLPROPERTIES and CREATE-time TBLPROPERTIES — a bad
    * policy must refuse where it is written, never at the scheduled
    * sweep). Call with the NORMALIZED value. */
  private[sql] def validateStickyValue(k: String, v: String,
      schema: org.apache.spark.sql.types.StructType, table: String): Unit = k match {
    case graft.meta.SnapshotCatalog.RetentionSnapshotsProp =>
      require(scala.util.Try(v.toInt).toOption.exists(_ >= 1),
        s"'$k' must be an integer >= 1; got '$v'")
    case graft.meta.SnapshotCatalog.RetentionAgeMsProp |
         graft.meta.SnapshotCatalog.RetentionRowsMsProp =>
      require(scala.util.Try(v.toLong).toOption.exists(_ >= 0),
        s"'$k' must be a non-negative integer of milliseconds; got '$v'")
    case graft.meta.SnapshotCatalog.RetentionRowsColumnProp =>
      require(schema.fieldNames.contains(v),
        s"'$k' must name a column of $table; got '$v' " +
          s"(columns: ${schema.fieldNames.mkString(", ")})")
    case _ => ()
  }

  /** Parse an owned column-list prop value against the schema. */
  private[sql] def ownedCols(p: String, v: String,
      schema: org.apache.spark.sql.types.StructType, table: String): Seq[String] = {
    val cs = v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    cs.foreach(c => require(schema.fieldNames.contains(c),
      s"'$p' names unknown column '$c' on $table " +
        s"(columns: ${schema.fieldNames.mkString(", ")})"))
    cs
  }

  /** Partition + validate a CREATE-time TBLPROPERTIES map into (sticky
    * value props, bloom columns, sketch columns); unknown keys refuse
    * loudly — snapshot props are engine metadata, not a key-value
    * store (the SET TBLPROPERTIES discipline, applied at birth). An
    * EMPTY value refuses too: at SET, '' means clear, but at birth
    * there is nothing to clear — a templating variable that rendered
    * empty must not silently birth a table without its policy. */
  private[sql] def createTableProps(
      props: Map[String, String],
      schema: org.apache.spark.sql.types.StructType,
      table: String): (Map[String, String], Seq[String], Seq[String]) = {
    import graft.meta.SnapshotCatalog._
    val bad = props.keys.filterNot(ownedProps.contains)
    if (bad.nonEmpty) throw new UnsupportedOperationException(
      s"TBLPROPERTIES on graft tables are engine-owned; supported: " +
        s"${ownedProps.toSeq.sorted.mkString(", ")} (got ${bad.mkString(", ")})")
    val empties = props.filter(_._2.trim.isEmpty).keys
    require(empties.isEmpty,
      s"CREATE-time TBLPROPERTIES must carry values; got empty " +
        s"${empties.mkString(", ")} (at birth there is nothing to clear)")
    val values = props.filter(kv => StickyValueProps.contains(kv._1))
      .map { case (k, v) => k -> normalizeSticky(k, v) }
    values.foreach { case (k, v) => validateStickyValue(k, v, schema, table) }
    val colProps = StickyColumnProps.map { p =>
      p -> props.get(p).map(ownedCols(p, _, schema, table)).getOrElse(Nil)
    }.toMap
    (values, colProps(BloomColumnsProp), colProps(SketchColumnsProp))
  }

  /** Opaque expression holder: a command's constructor fields of type
    * `Expression` are scanned by CheckAnalysis, which rejects the (by
    * design) unresolved DML condition — the holder hides it from the
    * QueryPlan product scan; the command resolves it itself at run
    * time against the live table scan. */
  final case class Cond(e: Expression) {
    override def toString: String = e.sql
  }

  /** Evaluate CALL arguments to plain Scala values: leading positional
    * literals, then `name => literal` named arguments (the Spark
    * parser's `NamedArgumentExpression`). Non-foldable arguments refuse
    * loudly — a procedure argument computed from a table is not a
    * maintenance parameter. */
  private[sql] def evalCallArgs(
      args: Seq[Expression]): (Seq[Any], Map[String, Any]) = {
    def value(e: Expression): Any = {
      if (!e.foldable) throw new UnsupportedOperationException(
        s"CALL arguments must be literals; got ${e.sql}")
      e.eval(null) match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case d: org.apache.spark.sql.types.Decimal => d.toBigDecimal
        case v => v
      }
    }
    val (named, positional) = args.partition(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedArgumentExpression])
    args.zipWithIndex.foreach { case (a, i) =>
      if (!a.isInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedArgumentExpression]
          && i > 0 && args(i - 1)
            .isInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedArgumentExpression])
        throw new UnsupportedOperationException(
          "CALL positional arguments must precede named arguments")
    }
    (positional.map(value),
      named.map {
        case org.apache.spark.sql.catalyst.expressions.NamedArgumentExpression(n, v) =>
          n.toLowerCase -> value(v)
      }.toMap)
  }

  /** `col()` for a possibly-GENERATED column name — expression-derived
    * names carry dots/parens (`(o_totalprice + 0.5)`), which unquoted
    * resolution would dot-split. Backtick-quoted, embedded backticks
    * doubled. */
  private[sql] def qcol(name: String): org.apache.spark.sql.Column =
    col(s"`${name.replace("`", "``")}`")

  private[sql] def dataDirFor(session: SparkSession, root: String, table: String): String = {
    // validated BEFORE any byte lands: a write verb's data dir must
    // never resolve outside its base through a '..'-carrying name
    require(graft.meta.SnapshotCatalog.validTableRef(table),
      s"invalid table name: $table")
    session.conf.getOption(DataDirConf).filter(_.nonEmpty)
      .map(base => java.nio.file.Paths.get(base, table).toString)
      .getOrElse(java.nio.file.Paths.get(root, table, SnapshotCatalog.DataDir).toString)
  }

  /** Strip qualifiers that refer to the target relation (its name or
    * alias) so the condition can resolve against a bare scan of it. */
  private[sql] def unqualify(e: Expression, quals: Set[String]): Expression =
    e.transform {
      case a: UnresolvedAttribute
          if a.nameParts.size == 2 && quals.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }

  /** The equi-join key columns of a canonical MERGE condition: a
    * conjunction of `t.k = s.k` equalities over same-named columns. */
  private[sql] def mergeKeyCols(cond: Expression): Seq[String] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    split(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        a.nameParts.last
      case other => throw new UnsupportedOperationException(
        "MERGE INTO through SQL supports ON conditions that are conjunctions of " +
          s"target.k = source.k equalities over same-named columns; got: ${other.sql}")
    }.distinct
  }
}

/** Claims INSERT / DELETE / MERGE statements whose target is a catalog
  * table. Injected in the hint batch (pre-`ResolveRelations`) so the
  * statement is rewritten before builtin resolution rejects the name. */
class GraftDmlRule(val session: SparkSession) extends Rule[LogicalPlan] {
  import GraftSqlResolution._

  /** The claimed table of a DML target, with its alias qualifiers. */
  private def target(p: LogicalPlan, cat: SnapshotCatalog): Option[(String, Set[String])] =
    p match {
      case u: UnresolvedRelation =>
        claimedTable(u.multipartIdentifier, cat).map(t => (t, Set(t.toLowerCase)))
      case SubqueryAlias(ident, u: UnresolvedRelation) =>
        claimedTable(u.multipartIdentifier, cat)
          .map(t => (t, Set(t.toLowerCase, ident.name.toLowerCase)))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = rootOf(session) match {
    case None => plan
    case Some(root) =>
      val cat = catalogFor(root)
      plan.resolveOperatorsDown {
        case ins @ InsertIntoStatement(t, partSpec, userCols, query, overwrite, _, byName)
            if target(t, cat).isDefined =>
          val (table, _) = target(t, cat).get
          if (partSpec.nonEmpty) throw new UnsupportedOperationException(
            "INSERT with a PARTITION spec is not supported on graft catalog tables")
          GraftInsertCommand(root, table, userCols, query, overwrite, byName)
        case DeleteFromTable(t, cond) if target(t, cat).isDefined =>
          val (table, quals) = target(t, cat).get
          GraftDeleteCommand(root, table, GraftDml.Cond(cond), quals)
        case UpdateTable(t, assigns, cond) if target(t, cat).isDefined =>
          val (table, quals) = target(t, cat).get
          val pairs: Seq[(String, GraftDml.Cond)] = assigns.map { a =>
            GraftDml.unqualify(a.key, quals) match {
              case k: UnresolvedAttribute if k.nameParts.size == 1 =>
                k.nameParts.head -> GraftDml.Cond(GraftDml.unqualify(a.value, quals))
              case other => throw new UnsupportedOperationException(
                "UPDATE through SQL supports SET on top-level columns of the target " +
                  s"table; got: ${other.sql}")
            }
          }
          GraftUpdateCommand(root, table, pairs, cond.map(GraftDml.Cond), quals)
        case MergeIntoTable(t, source, cond, matched, notMatched, bySource, withSchemaEvo)
            if target(t, cat).isDefined =>
          val (table, targetQuals) = target(t, cat).get
          if (withSchemaEvo) throw new UnsupportedOperationException(
            "MERGE WITH SCHEMA EVOLUTION is not supported on graft catalog tables")
          val sourceQuals: Set[String] = source match {
            case SubqueryAlias(id, _) => Set(id.name.toLowerCase)
            case u: UnresolvedRelation => Set(u.multipartIdentifier.last.toLowerCase)
            case _ => Set.empty
          }
          val keyColsLower = GraftDml.mergeKeyCols(cond).map(_.toLowerCase).toSet
          val targetFieldsLower: Set[String] = cat.schema(table)
            .map(_.fieldNames.map(_.toLowerCase).toSet).getOrElse(Set.empty)
          // An assignment key must name a top-level target column
          // (optionally target-qualified).
          def setName(k: Expression, what: String): String = k match {
            case a: UnresolvedAttribute if a.nameParts.size == 1 => a.nameParts.head
            case a: UnresolvedAttribute if a.nameParts.size == 2 &&
                targetQuals.contains(a.nameParts.head.toLowerCase) => a.nameParts.last
            case other => throw new UnsupportedOperationException(
              s"MERGE $what supports SET/INSERT on top-level columns of the " +
                s"target table; got: ${other.sql}")
          }
          // Matched-clause SET expressions see BOTH rows of the pair:
          // target columns by plain name, source columns as __s_<name>
          // (keys, equal by the join, stay plain). Bare names resolve
          // target-first — qualify with the source alias to force the
          // source side.
          def pairRewrite(e: Expression): Expression = e.transformUp {
            case a: UnresolvedAttribute if a.nameParts.size == 2 &&
                sourceQuals.contains(a.nameParts.head.toLowerCase) &&
                !targetQuals.contains(a.nameParts.head.toLowerCase) =>
              val n = a.nameParts.last
              if (keyColsLower.contains(n.toLowerCase)) UnresolvedAttribute(Seq(n))
              else UnresolvedAttribute(Seq("__s_" + n))
            case a: UnresolvedAttribute if a.nameParts.size == 2 &&
                targetQuals.contains(a.nameParts.head.toLowerCase) =>
              UnresolvedAttribute(Seq(a.nameParts.last))
            case a: UnresolvedAttribute if a.nameParts.size == 1 &&
                !targetFieldsLower.contains(a.nameParts.head.toLowerCase) =>
              UnresolvedAttribute(Seq("__s_" + a.nameParts.head))
          }
          // clause shapes checked at ANALYSIS time; first match wins at
          // run time. Conditions are SOURCE-side facts (the CDC-apply
          // idiom); explicit matched SETs may read both pair sides.
          val mClauses: Seq[(String, Option[GraftDml.Cond], Seq[(String, GraftDml.Cond)])] =
            matched.map {
              case UpdateStarAction(c) => ("u", c.map(GraftDml.Cond), Nil)
              case DeleteAction(c) => ("d", c.map(GraftDml.Cond), Nil)
              case UpdateAction(c, assigns, false) =>
                val sets = assigns.map(a =>
                  setName(a.key, "WHEN MATCHED UPDATE") ->
                    GraftDml.Cond(pairRewrite(a.value)))
                ("s", c.map(GraftDml.Cond), sets)
              case other => throw new UnsupportedOperationException(
                "MERGE INTO through SQL supports WHEN MATCHED [AND cond] THEN UPDATE " +
                  s"SET * / UPDATE SET c = expr / DELETE; got: $other")
            }
          val nmClauses: Seq[(String, Option[GraftDml.Cond], Seq[(String, GraftDml.Cond)])] =
            notMatched.map {
              case InsertStarAction(c) => ("i", c.map(GraftDml.Cond), Nil)
              case InsertAction(c, assigns) =>
                val sets = assigns.map(a =>
                  setName(a.key, "WHEN NOT MATCHED INSERT") -> GraftDml.Cond(a.value))
                ("c", c.map(GraftDml.Cond), sets)
              case other => throw new UnsupportedOperationException(
                "MERGE INTO through SQL supports WHEN NOT MATCHED [AND cond] THEN " +
                  s"INSERT * / INSERT (cols) VALUES (exprs); got: $other")
            }
          // conditions and INSERT values are evaluated over the SOURCE
          // row; a target-qualified reference can't be — refuse loudly
          // here instead of failing resolution later
          (mClauses.flatMap(_._2) ++ nmClauses.flatMap(_._2) ++
            nmClauses.flatMap(_._3.map(_._2))).foreach { c =>
            c.e.foreach {
              case a: UnresolvedAttribute
                  if a.nameParts.size == 2 && targetQuals.contains(a.nameParts.head.toLowerCase) &&
                    !sourceQuals.contains(a.nameParts.head.toLowerCase) =>
                throw new UnsupportedOperationException(
                  s"MERGE clause conditions and INSERT values may reference only " +
                    s"source columns; '${a.nameParts.mkString(".")}' is target-qualified")
              case _ =>
            }
          }
          // WHEN NOT MATCHED BY SOURCE (the full-sync CDC-apply idiom):
          // there is no source row, so conditions and SET expressions
          // are TARGET-side — the mirror-image validation of the above
          def requireTargetSide(e: Expression, what: String): Unit = e.foreach {
            case a: UnresolvedAttribute
                if a.nameParts.size == 2 && sourceQuals.contains(a.nameParts.head.toLowerCase) &&
                  !targetQuals.contains(a.nameParts.head.toLowerCase) =>
              throw new UnsupportedOperationException(
                s"MERGE NOT MATCHED BY SOURCE $what may reference only target columns; " +
                  s"'${a.nameParts.mkString(".")}' is source-qualified")
            case _ =>
          }
          val bsClauses: Seq[(String, Option[GraftDml.Cond], Seq[(String, GraftDml.Cond)])] =
            bySource.map {
              case DeleteAction(c) =>
                c.foreach(requireTargetSide(_, "conditions"))
                ("d", c.map(GraftDml.Cond), Nil)
              case UpdateAction(c, assigns, false) =>
                c.foreach(requireTargetSide(_, "conditions"))
                val sets = assigns.map { a =>
                  requireTargetSide(a.value, "SET expressions")
                  a.key match {
                    case k: UnresolvedAttribute if k.nameParts.size == 1 =>
                      k.nameParts.head -> GraftDml.Cond(a.value)
                    case k: UnresolvedAttribute if k.nameParts.size == 2 &&
                        targetQuals.contains(k.nameParts.head.toLowerCase) =>
                      k.nameParts.last -> GraftDml.Cond(a.value)
                    case other => throw new UnsupportedOperationException(
                      "MERGE NOT MATCHED BY SOURCE UPDATE supports SET on top-level " +
                        s"columns of the target table; got: ${other.sql}")
                  }
                }
                ("u", c.map(GraftDml.Cond), sets)
              case other => throw new UnsupportedOperationException(
                "MERGE WHEN NOT MATCHED BY SOURCE supports UPDATE SET c = expr or " +
                  s"DELETE (UPDATE SET * is undefined without a source row); got: $other")
            }
          GraftMergeCommand(root, table, source, GraftDml.mergeKeyCols(cond),
            mClauses, nmClauses, sourceQuals, bsClauses, targetQuals)
        case AddColumns(t, cols) if alterTarget(t, cat).isDefined =>
          val table = alterTarget(t, cat).get
          val simple = cols.map { c =>
            if (c.path.nonEmpty) throw new UnsupportedOperationException(
              "ALTER TABLE ADD COLUMNS on graft catalog tables supports top-level " +
                s"columns only; got nested field ${c.name.mkString(".")}")
            if (!c.nullable && c.default.isEmpty) throw new UnsupportedOperationException(
              "ALTER TABLE ADD COLUMNS NOT NULL is unsatisfiable on existing rows " +
                "without a DEFAULT; add one (existing rows read it) or add the " +
                "column nullable")
            if (c.position.nonEmpty) throw new UnsupportedOperationException(
              "ALTER TABLE ADD COLUMNS FIRST/AFTER is not supported; columns append")
            // validated and rendered against the column type inside
            // addColumn; originalSQL carries the literal text verbatim
            (c.colName, c.dataType, c.default.map(_.originalSQL), c.nullable)
          }
          GraftAlterCommand(root, table, GraftAlterCommand.Add(simple))
        case DropColumns(t, fields, ifExists) if alterTarget(t, cat).isDefined =>
          val table = alterTarget(t, cat).get
          val names = fields.map { f =>
            if (f.name.size != 1) throw new UnsupportedOperationException(
              "ALTER TABLE DROP COLUMN on graft catalog tables supports top-level " +
                s"columns only; got ${f.name.mkString(".")}")
            f.name.head
          }
          GraftAlterCommand(root, table, GraftAlterCommand.Drop(names, ifExists))
        case RenameColumn(t, column, newName) if alterTarget(t, cat).isDefined =>
          val table = alterTarget(t, cat).get
          if (column.name.size != 1) throw new UnsupportedOperationException(
            "ALTER TABLE RENAME COLUMN on graft catalog tables supports top-level " +
              s"columns only; got ${column.name.mkString(".")}")
          GraftAlterCommand(root, table,
            GraftAlterCommand.Rename(column.name.head, newName))
        case AlterColumns(t, specs) if alterTarget(t, cat).isDefined =>
          val table = alterTarget(t, cat).get
          val changes: Seq[GraftAlterCommand.Change] = specs.map { s =>
            if (s.column.name.size != 1) throw new UnsupportedOperationException(
              "ALTER TABLE ALTER COLUMN on graft catalog tables supports top-level " +
                s"columns only; got ${s.column.name.mkString(".")}")
            val cn = s.column.name.head
            if (s.newPosition.nonEmpty)
              throw new UnsupportedOperationException(
                "ALTER TABLE ALTER COLUMN FIRST/AFTER is not supported on " +
                  "graft catalog tables")
            val forms = Seq(s.newDataType.nonEmpty, s.newNullability.nonEmpty,
              s.newDefaultExpression.nonEmpty || s.dropDefault,
              s.newComment.nonEmpty).count(identity)
            if (forms != 1) throw new UnsupportedOperationException(
              "ALTER TABLE ALTER COLUMN on graft catalog tables supports exactly one " +
                "of: TYPE widening, SET/DROP DEFAULT, SET/DROP NOT NULL, COMMENT")
            if (s.newDataType.nonEmpty)
              GraftAlterCommand.Widen(Seq(cn -> s.newDataType.get))
            else if (s.newNullability.nonEmpty)
              GraftAlterCommand.SetNullability(cn, s.newNullability.get)
            else if (s.newComment.nonEmpty)
              // COMMENT '' clears (Spark ships no DROP COMMENT syntax)
              GraftAlterCommand.SetComment(cn, s.newComment.filter(_.nonEmpty))
            else
              GraftAlterCommand.SetDefault(cn,
                s.newDefaultExpression.map(_.originalSQL))
          }
          if (changes.size == 1) GraftAlterCommand(root, table, changes.head)
          else GraftAlterCommand(root, table, GraftAlterCommand.Multi(changes))
        case ct: CreateTableAsSelect if ctasTarget(ct.name).isDefined =>
          val t = ctasTarget(ct.name).get
          if (ct.partitioning.nonEmpty) throw new UnsupportedOperationException(
            "CREATE TABLE ... PARTITIONED BY is not supported through SQL on graft " +
              "catalog tables; use Writers.writePartitionedSnapshot")
          ct.tableSpec match {
            case u: UnresolvedTableSpec =>
              if (u.provider.exists(!_.equalsIgnoreCase("parquet")))
                throw new UnsupportedOperationException(
                  s"graft catalog tables are parquet; USING ${u.provider.get} is not supported")
              if (u.location.nonEmpty) throw new UnsupportedOperationException(
                "LOCATION is not supported: graft chooses the data dir " +
                  s"(override base with ${GraftDml.DataDirConf})")
            case _ =>
          }
          GraftCtasCommand(root, t, ct.query, ct.ignoreIfExists,
            ct.tableSpec match {
              case u: UnresolvedTableSpec => u.comment.filter(_.nonEmpty)
              case _ => None
            },
            ct.tableSpec match {
              case u: UnresolvedTableSpec => u.properties
              case _ => Map.empty
            })
        case ct @ CreateTable(ident, columns, _, _, ignoreIfExists)
            if ctasTarget(ident).isDefined =>
          val t = ctasTarget(ident).get
          if (ct.partitioning.nonEmpty) throw new UnsupportedOperationException(
            "CREATE TABLE ... PARTITIONED BY is not supported through SQL on graft " +
              "catalog tables; use Writers.writePartitionedSnapshot")
          ct.tableSpec match {
            case u: UnresolvedTableSpec =>
              if (u.provider.exists(!_.equalsIgnoreCase("parquet")))
                throw new UnsupportedOperationException(
                  s"graft catalog tables are parquet; USING ${u.provider.get} is not supported")
              if (u.location.nonEmpty) throw new UnsupportedOperationException(
                "LOCATION is not supported: graft chooses the data dir " +
                  s"(override base with ${GraftDml.DataDirConf})")
            case _ =>
          }
          val fields = columns.map { c =>
            if (c.generationExpression.nonEmpty || c.identityColumnSpec.nonEmpty)
              throw new UnsupportedOperationException(
                "CREATE TABLE GENERATED/IDENTITY columns are not supported " +
                  "on graft catalog tables")
            if (!c.nullable &&
                !graft.meta.SnapshotCatalog.notNullEnforceable(c.dataType))
              throw new UnsupportedOperationException(
                s"NOT NULL on ${c.dataType.catalogString} cannot be enforced from " +
                  "commit stats; supported: numeric, string, date, timestamp")
            // DEFAULT = the column's write-default (S61): INSERTs that
            // omit the column fill it; rendered/validated here so a bad
            // literal refuses at CREATE time, not first INSERT
            val rendered = c.defaultValue.map(d =>
              graft.meta.SnapshotCatalog.renderDefaultExpr(
                d.child, c.dataType, s"CREATE TABLE column ${c.name}"))
            if (!c.nullable && rendered.contains("NULL"))
              throw new UnsupportedOperationException(
                s"column ${c.name} is NOT NULL with DEFAULT NULL: contradictory")
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
            rendered.foreach(
              mb.putString(graft.meta.SnapshotCatalog.WriteDefaultMetaKey, _))
            // a column COMMENT rides Spark's own field-metadata key, so
            // it renders everywhere Spark renders comments
            c.comment.filter(_.nonEmpty).foreach(mb.putString("comment", _))
            org.apache.spark.sql.types.StructField(c.name, c.dataType,
              nullable = c.nullable, metadata = mb.build())
          }
          val tableComment = ct.tableSpec match {
            case u: UnresolvedTableSpec => u.comment.filter(_.nonEmpty)
            case _ => None
          }
          val tableProps = ct.tableSpec match {
            case u: UnresolvedTableSpec => u.properties
            case _ => Map.empty[String, String]
          }
          GraftCreateCommand(root, t,
            org.apache.spark.sql.types.StructType(fields), ignoreIfExists,
            tableComment, tableProps)
        case DropTable(child, ifExists, purge) if dropTarget(child, cat).isDefined =>
          GraftDropCommand(root, dropTarget(child, cat).get, ifExists, purge)
        case CommentOnTable(child, comment)
            if ddlName(child).exists(p => claimedTable(p, cat).isDefined) =>
          GraftCommentCommand(root,
            ddlName(child).flatMap(claimedTable(_, cat)).get,
            Option(comment).filter(_.nonEmpty))
        case RenameTable(child, newParts, isView)
            if ddlName(child).exists(p =>
              claimedTable(p, cat).isDefined ||
                // view names claim only at the scopes graft owns — a
                // bare name or graft.<v> — so otherdb.t renames fall
                // through to Spark even when a graft view named t exists
                (p.size == 1 && cat.viewMeta(p.head).isDefined) ||
                (p.size == 2 && p.head.equalsIgnoreCase("graft"))) =>
          val oldParts = ddlName(child).get
          val oldName = claimedTable(oldParts, cat).getOrElse(oldParts.last)
          if (isView || cat.viewMeta(oldName).isDefined)
            throw new UnsupportedOperationException(
              s"RENAME on graft views is not supported (a view is versioned SQL " +
                "text; DROP VIEW + CREATE VIEW under the new name keeps the " +
                "history explicit)")
          val newName = newParts match {
            case Seq(n) => n
            case Seq(ns, n) if ns.equalsIgnoreCase("graft") => n
            case other => throw new UnsupportedOperationException(
              s"RENAME TO ${other.mkString(".")}: a graft table can only be " +
                "renamed within the graft catalog")
          }
          GraftRenameTableCommand(root, oldName, newName)
        // ---- SQL views (S62): stored definitions, graft.-namespaced ----
        case cv: CreateView if viewTarget(cv.child, cat, mustExist = false).isDefined =>
          val name = viewTarget(cv.child, cat, mustExist = false).get
          if (cv.userSpecifiedColumns.nonEmpty) throw new UnsupportedOperationException(
            "CREATE VIEW with a column list is not supported on graft views; " +
              "alias columns in the SELECT instead")
          if (cv.properties.nonEmpty) throw new UnsupportedOperationException(
            "CREATE VIEW ... TBLPROPERTIES is not supported on graft views")
          val sql = cv.originalText.getOrElse(throw new UnsupportedOperationException(
            s"CREATE VIEW $name has no SQL text to store"))
          GraftViewCommand(root, name, GraftViewCommand.Create(
            sql, replace = cv.replace, ifNotExists = cv.allowExisting))
        case av: AlterViewAs if viewTarget(av.child, cat, mustExist = true).isDefined =>
          GraftViewCommand(root, viewTarget(av.child, cat, mustExist = true).get,
            GraftViewCommand.Redefine(av.originalText))
        case dv: DropView if viewTarget(dv.child, cat, mustExist = true).isDefined =>
          GraftViewCommand(root, viewTarget(dv.child, cat, mustExist = true).get,
            GraftViewCommand.Drop(dv.ifExists))
        case TruncateTable(child)
            if ddlName(child).exists(p => claimedTable(p, cat).isDefined) =>
          GraftTruncateCommand(root, ddlName(child).flatMap(claimedTable(_, cat)).get)
        case Call(org.apache.spark.sql.catalyst.analysis.UnresolvedProcedure(parts), args, _)
            if parts.head.equalsIgnoreCase("graft") &&
              (parts.size == 2 ||
                (parts.size == 3 && parts(1).equalsIgnoreCase("system"))) =>
          val (pos, named) = GraftDml.evalCallArgs(args)
          GraftCallCommand(root, parts.last.toLowerCase, pos, named)
        // ---- SQL discovery: the catalog is enumerable from pure SQL ----
        case st: ShowTables if graftNamespace(st.namespace) =>
          GraftShowCommand(root, views = false, st.pattern)
        case sv: ShowViews if graftNamespace(sv.namespace) =>
          GraftShowCommand(root, views = true, sv.pattern)
        case d: DescribeRelation if describeTarget(d.relation, cat).isDefined =>
          if (d.partitionSpec.nonEmpty) throw new UnsupportedOperationException(
            "DESCRIBE with a PARTITION spec is not supported on graft catalog tables")
          GraftDescribeCommand(root, describeTarget(d.relation, cat).get, d.isExtended)
        case sc: ShowCreateTable if describeTarget(sc.child, cat).isDefined =>
          GraftShowCreateCommand(root, describeTarget(sc.child, cat).get)
        case ShowTableProperties(child, key, _)
            if ddlName(child).exists(p => claimedTable(p, cat).isDefined) =>
          GraftShowTblPropsCommand(root,
            ddlName(child).flatMap(claimedTable(_, cat)).get, key)
        case SetTableProperties(child, props) if alterTarget(child, cat).isDefined =>
          GraftTblPropsCommand(root, alterTarget(child, cat).get,
            set = props, unset = Nil, unsetIfExists = false)
        case UnsetTableProperties(child, keys, ifExists)
            if alterTarget(child, cat).isDefined =>
          GraftTblPropsCommand(root, alterTarget(child, cat).get,
            set = Map.empty, unset = keys, unsetIfExists = ifExists)
        case sp: ShowPartitions
            if ddlName(sp.child).exists(p => claimedTable(p, cat).isDefined) =>
          val spec: Map[String, String] = sp.pattern.map {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedPartitionSpec =>
              u.spec
            case other => throw new UnsupportedOperationException(
              s"unsupported PARTITION spec: $other")
          }.getOrElse(Map.empty)
          GraftShowPartitionsCommand(root,
            ddlName(sp.child).flatMap(claimedTable(_, cat)).get, spec)
      }
  }

  /** Is a SHOW statement's namespace the graft catalog? */
  private def graftNamespace(p: LogicalPlan): Boolean = p match {
    case ns: org.apache.spark.sql.catalyst.analysis.UnresolvedNamespace =>
      ns.multipartIdentifier.map(_.toLowerCase) == Seq("graft")
    case _ => false
  }

  /** DESCRIBE claims an explicit `graft.<n>` unconditionally (a missing
    * name is OUR loud error, not a session-catalog one) and a bare name
    * only when it is a catalog table or stored view — the same presence
    * arbitration reads use. */
  private def describeTarget(p: LogicalPlan, cat: SnapshotCatalog): Option[String] =
    ddlName(p).flatMap {
      case Seq(ns, n) if ns.equalsIgnoreCase("graft") => Some(n)
      case Seq(n) if cat.tables().contains(n) || cat.viewMeta(n).isDefined => Some(n)
      case _ => None
    }

  /** The claimed table of an ALTER TABLE target (an [[UnresolvedTable]],
    * unlike DML's UnresolvedRelation). */
  private def alterTarget(p: LogicalPlan, cat: SnapshotCatalog): Option[String] =
    p match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        claimedTable(u.multipartIdentifier, cat)
      case _ => None
    }

  /** A view-DDL target this rule claims: always the explicit `graft.<v>`
    * namespace; a BARE name only when `mustExist` and the view is in the
    * store (DROP/ALTER on a known view) — bare CREATE VIEW stays with
    * the session catalog (temp-view conventions live there). */
  private def viewTarget(p: LogicalPlan, cat: SnapshotCatalog,
      mustExist: Boolean): Option[String] = {
    val parts: Option[Seq[String]] = p match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
        Some(u.nameParts)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedView =>
        Some(u.multipartIdentifier)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
        Some(u.multipartIdentifier)
      case _ => None
    }
    parts.flatMap {
      case Seq(ns, v) if ns.equalsIgnoreCase("graft") => Some(v)
      case Seq(v) if mustExist && cat.viewMeta(v).isDefined => Some(v)
      case _ => None
    }
  }

  /** A CTAS target this rule claims: the explicit `graft.<t>` namespace
    * — the table does not exist yet, so (unlike INSERT/DELETE/MERGE)
    * presence in the catalog can't arbitrate a bare name, and claiming
    * one would hijack session-catalog CTAS. */
  private def ctasTarget(p: LogicalPlan): Option[String] = p match {
    case org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier(Seq(ns, t), _)
        if ns.equalsIgnoreCase("graft") => Some(t)
    case _ => None
  }

  /** Name parts of a DDL target, whichever unresolved node the parser
    * chose for the statement shape. */
  private def ddlName(p: LogicalPlan): Option[Seq[String]] = p match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
      Some(u.multipartIdentifier)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
      Some(u.multipartIdentifier)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
      Some(u.nameParts)
    case _ => None
  }

  /** DROP claims an explicit `graft.<t>` UNCONDITIONALLY (so `IF
    * EXISTS` on a missing graft table is OUR no-op, not a session-
    * catalog error) and a bare name only when the table exists — the
    * same presence arbitration DML uses. */
  private def dropTarget(p: LogicalPlan, cat: SnapshotCatalog): Option[String] =
    ddlName(p).flatMap {
      case Seq(ns, t) if ns.equalsIgnoreCase("graft") => Some(t)
      case parts => claimedTable(parts, cat)
    }
}

/** `INSERT INTO` → snapshot append; `INSERT OVERWRITE` → full replace.
  * Columns map positionally (SQL INSERT semantics) and cast to the
  * target schema; an explicit column list fills unnamed columns with
  * NULL. */
case class GraftInsertCommand(
    root: String,
    table: String,
    userCols: Seq[String],
    query: LogicalPlan,
    overwrite: Boolean,
    byName: Boolean) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    val schema = cat.schema(table).getOrElse(
      throw new IllegalArgumentException(s"no snapshots for table $table"))
    val src = GraftColumnShim.ofRows(session, query)
    val projected =
      if (byName) {
        val missing = schema.fieldNames.filterNot(src.columns.contains)
        require(missing.isEmpty,
          s"INSERT BY NAME into $table is missing columns: ${missing.mkString(", ")}")
        src.select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
      } else if (userCols.nonEmpty) {
        require(userCols.size == src.columns.size,
          s"INSERT column list has ${userCols.size} columns but the query produced ${src.columns.size}")
        val bad = userCols.filterNot(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(bad.isEmpty, s"unknown columns in INSERT list for $table: ${bad.mkString(", ")}")
        val byPos = userCols.map(_.toLowerCase).zip(src.columns).toMap
        src.select(schema.fields.map { f =>
          byPos.get(f.name.toLowerCase) match {
            case Some(srcCol) => GraftDml.qcol(srcCol).cast(f.dataType).as(f.name)
            case None =>
              // unnamed column: its write-default if one is in force
              // (S61), else NULL — standard SQL DEFAULT fill
              graft.meta.SnapshotCatalog.writeDefaultOf(f)
                .map(org.apache.spark.sql.functions.expr(_).cast(f.dataType).as(f.name))
                .getOrElse(lit(null).cast(f.dataType).as(f.name))
          }
        }.toIndexedSeq: _*)
      } else {
        require(src.columns.size == schema.size,
          s"INSERT into $table needs ${schema.size} columns, query produced ${src.columns.size}")
        src.select(src.columns.zip(schema.fields).map { case (c, f) =>
          GraftDml.qcol(c).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      }
    val dataDir = GraftDml.dataDirFor(session, root, table)
    if (overwrite) Writers.replaceSnapshot(cat, table, projected, dataDir)
    else Writers.writeSnapshot(cat, table, projected, dataDir)
    Seq.empty
  }
}

/** `DELETE FROM t WHERE cond` → MoR position delete; the WHERE's
  * literal conjuncts also prune the marking scan's file set. */
case class GraftDeleteCommand(
    root: String,
    table: String,
    cond: GraftDml.Cond,
    qualifiers: Set[String]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    val schema = cat.schema(table).getOrElse(
      throw new IllegalArgumentException(s"no snapshots for table $table"))
    val prune = GraftSqlResolution.pruneFiltersFrom(cond.e, schema, qualifiers)
    val deleteCol = GraftColumnShim.column(GraftDml.unqualify(cond.e, qualifiers))
    Writers.deleteWhereMoR(session, cat, table, deleteCol, prune,
      GraftDml.dataDirFor(session, root, table))
    Seq.empty
  }
}

/** `UPDATE t SET c = e, ... [WHERE cond]` → COW update: the WHERE's
  * literal conjuncts prune the rewrite set, SET expressions evaluate
  * over the old row and cast to the declared column types, and the
  * commit takes the self-merge shape (new versions are `insert_files`)
  * so incremental and CDC readers net it as delete(old)+insert(new)
  * with no new reader path. */
case class GraftUpdateCommand(
    root: String,
    table: String,
    assignments: Seq[(String, GraftDml.Cond)],
    cond: Option[GraftDml.Cond],
    qualifiers: Set[String]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    val schema = cat.schema(table).getOrElse(
      throw new IllegalArgumentException(s"no snapshots for table $table"))
    val prune = cond.map(c => GraftSqlResolution.pruneFiltersFrom(c.e, schema, qualifiers))
      .getOrElse(Nil)
    val condCol = cond.map(c => GraftColumnShim.column(GraftDml.unqualify(c.e, qualifiers)))
      .getOrElse(lit(true))
    val sets = assignments.map { case (n, c) => n -> GraftColumnShim.column(c.e) }
    Writers.updateWhere(session, cat, table, sets, condCol, prune,
      GraftDml.dataDirFor(session, root, table))
    Seq.empty
  }
}

/** SQL MERGE → the clause-merge writer: matched keys' files are
  * rewritten per-clause (update-all / delete, first holding clause
  * wins), unmatched source rows insert per the insert clauses; the
  * rewrite set is bounded by the source's key range. The canonical
  * unconditional `UPDATE SET *` + `INSERT *` pair takes
  * [[Writers.mergeInto]]'s single-pass path. */
case class GraftMergeCommand(
    root: String,
    table: String,
    source: LogicalPlan,
    keyCols: Seq[String],
    matchedClauses: Seq[(String, Option[GraftDml.Cond], Seq[(String, GraftDml.Cond)])],
    notMatchedClauses: Seq[(String, Option[GraftDml.Cond], Seq[(String, GraftDml.Cond)])],
    sourceQuals: Set[String],
    bySourceClauses: Seq[(String, Option[GraftDml.Cond], Seq[(String, GraftDml.Cond)])] = Nil,
    targetQuals: Set[String] = Set.empty) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    val src = GraftColumnShim.ofRows(session, source)
    // cast to the target schema so a literal-typed SQL source (INT keys
    // against a BIGINT table) can't drift the table's column types;
    // extra source columns (CDC op flags etc.) pass through for the
    // clause conditions and are dropped by the writer
    val schema = cat.schema(table).getOrElse(
      throw new IllegalArgumentException(s"no snapshots for table $table"))
    val aligned = src.select(src.columns.map { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)) match {
        case Some(f) => GraftDml.qcol(c).cast(f.dataType).as(f.name)
        case None => GraftDml.qcol(c)
      }
    }.toIndexedSeq: _*)
    def colOf(c: GraftDml.Cond) =
      GraftColumnShim.column(GraftDml.unqualify(c.e, sourceQuals))
    val matched: Seq[Writers.MatchedClause] = matchedClauses.map {
      case ("u", c, _) => Writers.MergeUpdateAll(c.map(colOf))
      case ("d", c, _) => Writers.MergeDelete(c.map(colOf))
      case ("s", c, sets) => Writers.MergeUpdateSet(
        // pair-rewritten at analysis (plain target names + __s_ source
        // names) — wrap verbatim, no qualifier stripping
        sets.map { case (n, e) => n -> GraftColumnShim.column(e.e) }, c.map(colOf))
      case (other, _, _) => throw new IllegalStateException(s"unknown merge action $other")
    }
    val notMatched: Seq[Writers.NotMatchedClause] = notMatchedClauses.map {
      case ("i", c, _) => Writers.MergeInsertAll(c.map(colOf))
      case ("c", c, sets) => Writers.MergeInsertCols(
        sets.map { case (n, e) => n -> colOf(e) }, c.map(colOf))
      case (other, _, _) => throw new IllegalStateException(s"unknown merge action $other")
    }
    // by-source clauses evaluate over the TARGET row; their conditions
    // also drive per-clause manifest pruning of the rewrite sweep
    def tcolOf(c: GraftDml.Cond) =
      GraftColumnShim.column(GraftDml.unqualify(c.e, targetQuals))
    val bySource: Seq[Writers.BySourceClause] = bySourceClauses.map {
      case ("d", c, _) => Writers.BySourceDelete(c.map(tcolOf))
      case ("u", c, sets) =>
        Writers.BySourceUpdate(sets.map { case (n, e) => n -> tcolOf(e) }, c.map(tcolOf))
      case (other, _, _) => throw new IllegalStateException(s"unknown by-source action $other")
    }
    val bsPrune: Seq[Seq[graft.meta.PruneFilter]] = bySourceClauses.map(_._2
      .map(c => GraftSqlResolution.pruneFiltersFrom(c.e, schema, targetQuals))
      .getOrElse(Nil))
    Writers.mergeApply(session, cat, table, aligned, keyCols, matched, notMatched,
      GraftDml.dataDirFor(session, root, table),
      notMatchedBySource = bySource, bySourcePrune = bsPrune)
    Seq.empty
  }
}

/** `ALTER TABLE t ADD/DROP/RENAME COLUMN` → the catalog's metadata-only
  * schema-evolution commits (S26/S48): add appends a nullable field
  * (existing files read NULL through the missing-column fill), drop
  * tombstones the physical bytes per file (drop-then-re-add reads
  * null, never resurrected values), rename re-keys stats/blooms/
  * sketches so manifest pruning keeps working — all zero data bytes,
  * one snapshot each, time-travel reaching the pre-DDL schema. */
case class GraftAlterCommand(
    root: String,
    table: String,
    change: GraftAlterCommand.Change) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    def apply(c: GraftAlterCommand.Change): Unit = c match {
      case GraftAlterCommand.Add(cols) =>
        cols.foreach { case (n, dt, default, nullable) =>
          cat.addColumn(table, n, dt, default, nullable)
        }
      case GraftAlterCommand.Drop(names, ifExists) =>
        names.foreach { n =>
          val exists = cat.schema(table).exists(_.fieldNames.contains(n))
          if (exists) cat.dropColumn(table, n)
          else if (!ifExists) throw new IllegalArgumentException(
            s"no column $n on $table")
        }
      case GraftAlterCommand.Rename(from, to) =>
        cat.renameColumn(table, from, to)
      case GraftAlterCommand.Widen(cols) =>
        cols.foreach { case (n, dt) => cat.widenColumn(table, n, dt) }
      case GraftAlterCommand.SetDefault(name, default) =>
        cat.setColumnDefault(table, name, default)
      case GraftAlterCommand.SetNullability(name, nullable) =>
        cat.setColumnNullability(session, table, name, nullable)
      case GraftAlterCommand.SetComment(name, comment) =>
        cat.setColumnComment(table, name, comment)
      case GraftAlterCommand.Multi(changes) => changes.foreach(apply)
    }
    apply(change)
    Seq.empty
  }
}

object GraftAlterCommand {
  sealed trait Change
  /** (name, type, DEFAULT literal SQL if any, nullable) per added column. */
  final case class Add(cols: Seq[(String, org.apache.spark.sql.types.DataType,
    Option[String], Boolean)]) extends Change
  final case class Drop(names: Seq[String], ifExists: Boolean) extends Change
  final case class Rename(from: String, to: String) extends Change
  final case class Widen(cols: Seq[(String, org.apache.spark.sql.types.DataType)]) extends Change
  /** `ALTER COLUMN c SET DEFAULT lit` (Some) / `DROP DEFAULT` (None). */
  final case class SetDefault(name: String, default: Option[String]) extends Change
  /** `ALTER COLUMN c SET NOT NULL` (false) / `DROP NOT NULL` (true). */
  final case class SetNullability(name: String, nullable: Boolean) extends Change
  /** `ALTER COLUMN c COMMENT 'x'` (Some) / `COMMENT ''` clears (None). */
  final case class SetComment(name: String, comment: Option[String]) extends Change
  final case class Multi(changes: Seq[Change]) extends Change
}

/** SQL view DDL (S62): `CREATE [OR REPLACE] VIEW graft.v AS SELECT ...`
  * stores the SQL text as a new view version, `ALTER VIEW v AS ...`
  * redefines an EXISTING view (new version, history kept), `DROP VIEW`
  * removes the store. Reads expand the current version at resolution
  * time ([[GraftCatalogRelationRule]]); the catalog refuses cyclic view
  * graphs and table-name collisions at DDL time. */
case class GraftViewCommand(
    root: String,
    name: String,
    action: GraftViewCommand.Action) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    action match {
      case GraftViewCommand.Create(sql, replace, ifNotExists) =>
        if (replace) requireReplaceKeepsShape(session, cat, sql)
        cat.createView(name, sql, replace, ifNotExists)
      case GraftViewCommand.Redefine(sql) =>
        if (cat.viewMeta(name).isEmpty) throw new IllegalArgumentException(
          s"no view $name in the graft catalog (ALTER VIEW needs an existing view; " +
            "use CREATE VIEW)")
        requireReplaceKeepsShape(session, cat, sql)
        cat.createView(name, sql, replace = true)
      case GraftViewCommand.Drop(ifExists) =>
        cat.dropView(name, ifExists)
    }
    Seq.empty
  }

  /** The dependent-view discipline extended to REPLACE/ALTER VIEW AS
    * (the same Postgres refuse-and-name contract drops follow): a
    * redefinition that changes the view's OUTPUT SHAPE (column names or
    * types, order-sensitive — a dependent's `v.*` expansion is
    * positional) while other stored views read it would break them at
    * their next read, so it refuses and names the dependents. A
    * same-shape redefinition (the versioned-definition use case: fix a
    * predicate, swap an implementation) stays allowed. Analysis-only —
    * both bodies are resolved for their schemas, never executed. */
  private def requireReplaceKeepsShape(
      session: SparkSession, cat: SnapshotCatalog, newSql: String): Unit = {
    val deps = cat.dependentViews(name)
    if (deps.isEmpty) return
    cat.viewSql(name).foreach { oldSql =>
      def shape(q: String): Seq[(String, org.apache.spark.sql.types.DataType)] =
        session.sql(q).schema.fields
          .map(f => (f.name.toLowerCase, f.dataType)).toSeq
      if (shape(oldSql) != shape(newSql)) throw new IllegalArgumentException(
        s"cannot replace view $name: stored view(s) ${deps.mkString(", ")} depend " +
          "on it and the new definition changes its output columns — drop the " +
          "dependents first, or keep the column names and types")
    }
  }
}

object GraftViewCommand {
  sealed trait Action
  final case class Create(sql: String, replace: Boolean, ifNotExists: Boolean) extends Action
  final case class Redefine(sql: String) extends Action
  final case class Drop(ifExists: Boolean) extends Action
}

/** `SHOW TABLES IN graft` / `SHOW VIEWS IN graft` — enumerate the
  * catalog from pure SQL. Metadata-sized (one store listing, no data
  * I/O); Spark's output column conventions so tooling that reads SHOW
  * output keeps working. */
case class GraftShowCommand(
    root: String,
    views: Boolean,
    pattern: Option[String]) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{BooleanType, StringType}

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("namespace", StringType, nullable = false)(),
    AttributeReference(if (views) "viewName" else "tableName",
      StringType, nullable = false)(),
    AttributeReference("isTemporary", BooleanType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    (if (views) cat.views() else cat.tables())
      .filter(GraftDml.showPatternMatches(pattern, _)).sorted
      .map(n => Row("graft", n, false))
  }
}

/** `SHOW CREATE TABLE <t-or-v>`: render the canonical DDL that would
  * recreate the object — columns with their S61 contracts for tables,
  * the stored current definition for views. Round-trippable: the
  * emitted statement parses and executes back through this same rule
  * set. */
case class GraftShowCreateCommand(
    root: String,
    name: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("createtab_stmt", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    cat.schema(name) match {
      case Some(schema) =>
        def quote(c: String): String = s"'${c.replace("'", "''")}'"
        val cols = schema.fields.toSeq.map { f =>
          val parts = Seq(
            Some(s"  ${f.name} ${f.dataType.sql}"),
            if (!f.nullable) Some("NOT NULL") else None,
            graft.meta.SnapshotCatalog.writeDefaultOf(f).map(d => s"DEFAULT $d"),
            f.getComment().map(c => s"COMMENT ${quote(c)}")
          ).flatten
          parts.mkString(" ")
        }
        val snapProps = cat.currentSnapshot(name).map(_.props).getOrElse(Map.empty)
        val tableComment = snapProps.get(graft.meta.SnapshotCatalog.CommentProp)
          .map(c => s"\nCOMMENT ${quote(c)}").getOrElse("")
        // the OTHER sticky props (index columns, retention policy)
        // round-trip as a TBLPROPERTIES clause — executing the emitted
        // DDL recreates the table WITH its policy and indexing
        val sticky = graft.meta.SnapshotCatalog.StickyProps
          .filterNot(_ == graft.meta.SnapshotCatalog.CommentProp)
          .flatMap(k => snapProps.get(k).map(k -> _))
        val tblProps =
          if (sticky.isEmpty) ""
          else "\nTBLPROPERTIES (" + sticky.map { case (k, v) =>
            s"\n  ${quote(k)} = ${quote(v)}" }.mkString(",") + ")"
        Seq(Row(s"CREATE TABLE graft.$name (\n${cols.mkString(",\n")})" +
          s"\nUSING parquet$tableComment$tblProps"))
      case None =>
        val sql = cat.viewSql(name).getOrElse(throw new IllegalArgumentException(
          s"no table or view $name in the graft catalog"))
        Seq(Row(s"CREATE VIEW graft.$name AS $sql"))
    }
  }
}

/** `SHOW TBLPROPERTIES t [('key')]`: the current snapshot's table
  * properties straight off the manifest (the Iceberg snapshot-summary /
  * table-props surface) — the sticky engine props (`graft.bloom.columns`,
  * `graft.sketch.columns`) plus the last commit's operation props.
  * Metadata-sized, zero data I/O (in the discovery zero-job battery).
  * A named key that is not set refuses loudly — a typo must never read
  * as 'no property'. */
case class GraftShowTblPropsCommand(
    root: String,
    table: String,
    key: Option[String]) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    val props = cat.resolveSnapshot(table).props
    key match {
      case Some(k) => Seq(Row(k, props.getOrElse(k,
        throw new IllegalArgumentException(
          s"table $table has no property '$k'; set: ${props.keys.toSeq.sorted.mkString(", ")}"))))
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** `ALTER TABLE t SET/UNSET TBLPROPERTIES`, scoped to the engine-owned
  * props: the sticky index props (`graft.bloom.columns` /
  * `graft.sketch.columns` — additions route through the SAME
  * [[SnapshotCatalog.indexColumns]] backfill the `CALL graft.index` verb
  * uses; columns absent from the new value drop via kind-scoped
  * [[SnapshotCatalog.dropIndexColumns]], as does UNSET — SQL and CALL
  * can never diverge) and the sticky VALUE props (`graft.comment`,
  * `graft.retention.snapshots`, `graft.retention.ms` — one
  * metadata-only commit restating the value; retention values validate
  * at SET time, a malformed policy must refuse here and not at the
  * scheduled sweep). SET has standard SQL replace semantics for every
  * owned prop: the property's value afterwards IS the value given, and
  * an identical SET / absent UNSET IF EXISTS burns no snapshot id.
  * Arbitrary user properties refuse loudly: snapshot props are engine
  * metadata, not a key-value store. */
case class GraftTblPropsCommand(
    root: String,
    table: String,
    set: Map[String, String],
    unset: Seq[String],
    unsetIfExists: Boolean) extends LeafRunnableCommand {

  private val BloomProp = graft.meta.SnapshotCatalog.BloomColumnsProp
  private val SketchProp = graft.meta.SnapshotCatalog.SketchColumnsProp
  private val ValueProps = graft.meta.SnapshotCatalog.StickyValueProps.toSet

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    val owned = GraftDml.ownedProps
    val badSet = set.keys.filterNot(owned.contains)
    val badUnset = unset.filterNot(owned.contains)
    if (badSet.nonEmpty || badUnset.nonEmpty) throw new UnsupportedOperationException(
      s"TBLPROPERTIES on graft tables are engine-owned; supported: " +
        s"${owned.toSeq.sorted.mkString(", ")} (got ${(badSet ++ badUnset).mkString(", ")})")
    def cols(v: String): Seq[String] =
      v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    def currentProps: Map[String, String] = cat.resolveSnapshot(table).props
    // validate EVERY prop in the statement — values AND column lists —
    // BEFORE the first commit publishes: SET is one statement and must
    // apply all-or-nothing; committing prop-by-prop would let
    // ('graft.retention.snapshots'='5', 'graft.retention.ms'='bogus')
    // land its first half and then throw, with Map iteration order
    // picking which half landed. Normalization happens here too: the
    // stored value must be exactly what enforcement later parses (a
    // ' 5' that validates at SET but throws at the scheduled sweep is
    // the bug this prevents).
    val schema = cat.resolveSnapshot(table).schema
    val valueSets = set.toSeq.collect { case (k, v) if ValueProps.contains(k) =>
      k -> Some(GraftDml.normalizeSticky(k, v)).filter(_.nonEmpty)
    }
    valueSets.foreach { case (k, next) =>
      next.foreach(GraftDml.validateStickyValue(k, _, schema, table))
    }
    Seq(BloomProp, SketchProp).foreach { p =>
      set.get(p).foreach { v => GraftDml.ownedCols(p, v, schema, table); () }
    }
    // value props: each is one metadata commit restating the value;
    // SET '' clears (the same convention as column comments), giving
    // SET a complete replace semantics without reaching for UNSET
    valueSets.foreach { case (k, next) =>
      if (currentProps.get(k) != next) { cat.setStickyValueProp(table, k, next); () }
    }
    unset.filter(ValueProps.contains).foreach { k =>
      if (currentProps.contains(k)) { cat.setStickyValueProp(table, k, None); () }
      else if (!unsetIfExists) throw new IllegalArgumentException(
        s"table $table has no property '$k' (UNSET ... IF EXISTS to ignore)")
    }
    if (set.exists(kv => !ValueProps.contains(kv._1))) {
      val bloom = set.get(BloomProp).map(cols).getOrElse(Nil)
      val sketch = set.get(SketchProp).map(cols).getOrElse(Nil)
      // SQL SET semantics is replace-with-given-value: SHOW
      // TBLPROPERTIES after SET returns exactly what was set. Compute
      // the delta against the current sticky set — drop columns absent
      // from the new value, index the additions; '' clears the kind.
      val snapProps = cat.resolveSnapshot(table).props
      def current(p: String): Seq[String] = snapProps.get(p).map(cols).getOrElse(Nil)
      val dropBloom =
        if (set.contains(BloomProp)) current(BloomProp).filterNot(bloom.contains) else Nil
      val dropSketch =
        if (set.contains(SketchProp)) current(SketchProp).filterNot(sketch.contains) else Nil
      val addBloom = bloom.filterNot(current(BloomProp).contains)
      val addSketch = sketch.filterNot(current(SketchProp).contains)
      if (dropBloom.nonEmpty)
        cat.dropIndexColumns(session, table, dropBloom,
          dropBlooms = true, dropSketches = false)
      if (dropSketch.nonEmpty)
        cat.dropIndexColumns(session, table, dropSketch,
          dropBlooms = false, dropSketches = true)
      if (addBloom.nonEmpty || addSketch.nonEmpty)
        cat.indexColumns(session, table,
          bloomColumns = addBloom, sketchColumns = addSketch)
      ()
    }
    unset.filterNot(ValueProps.contains).foreach { p =>
      val current = cat.resolveSnapshot(table)
        .props.get(p).map(cols).getOrElse(Nil)
      if (current.isEmpty) {
        if (!unsetIfExists) throw new IllegalArgumentException(
          s"table $table has no property '$p' (UNSET ... IF EXISTS to ignore)")
      } else {
        cat.dropIndexColumns(session, table, current,
          dropBlooms = p == BloomProp, dropSketches = p == SketchProp)
        ()
      }
    }
    Seq.empty
  }
}

/** `SHOW PARTITIONS t [PARTITION (k='v', ...)]`: the distinct partition
  * tuples of the current snapshot, straight off the manifest's
  * `partitionValues` — works for hive layouts AND hidden transforms
  * (`days(ts)`, `bucket(n,c)` render their transform columns), zero
  * data I/O. An optional spec filters on the given key equalities.
  * Values render URL-encoded exactly as the path segments they came
  * from, keys in sorted order (the layout writers' order). */
case class GraftShowPartitionsCommand(
    root: String,
    table: String,
    spec: Map[String, String]) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    val snap = cat.resolveSnapshot(table)
    // a spec key that is not a partition column refuses loudly (Spark's
    // AnalysisException contract) — a typo'd key must read as an error,
    // never as "no partitions"
    val partKeys = snap.files.flatMap(_.partitionValues.keys).distinct
    val unknown = spec.keys.filterNot(partKeys.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"SHOW PARTITIONS $table: ${unknown.mkString(", ")} " +
        (if (partKeys.isEmpty) "— the table is not partitioned"
         else s"is not a partition column; partition columns: ${partKeys.sorted.mkString(", ")}"))
    snap.files.map(_.partitionValues).distinct
      .filter(pv => pv.nonEmpty && spec.forall { case (k, v) =>
        // values match in either spelling: the logical (decoded) value a
        // user writes, or the URL-encoded form copied back from a
        // displayed row / path segment
        pv.get(k).exists(raw =>
          raw == v || java.net.URLEncoder.encode(raw, "UTF-8") == v)
      })
      .map(pv => pv.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }
        .mkString("/"))
      .sorted.map(Row(_))
  }
}

/** `DESCRIBE [EXTENDED] <table-or-view>` over the graft catalog: one
  * row per column with the declared type and the S61 contracts (NOT
  * NULL / DEFAULT) rendered in the comment column; EXTENDED appends the
  * detail section (snapshot id, file/row counts from the manifest —
  * metadata-sized, no data I/O; view text + version for views). */
case class GraftDescribeCommand(
    root: String,
    name: String,
    isExtended: Boolean) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("col_name", StringType, nullable = false)(),
    AttributeReference("data_type", StringType, nullable = true)(),
    AttributeReference("comment", StringType, nullable = true)())

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    cat.schema(name) match {
      case Some(schema) =>
        val snap = cat.currentSnapshot(name).get
        val cols = schema.fields.toSeq.map { f =>
          val contracts = Seq(
            if (!f.nullable) Some("NOT NULL") else None,
            graft.meta.SnapshotCatalog.writeDefaultOf(f).map(d => s"DEFAULT $d"),
            f.getComment() // user text renders after the contracts
          ).flatten
          Row(f.name, f.dataType.simpleString,
            if (contracts.isEmpty) null else contracts.mkString(" "))
        }
        if (!isExtended) cols
        else cols ++ Seq(
          Row("", "", ""),
          Row("# Detailed Table Information", "", ""),
          Row("Type", "graft table", null),
          Row("Provider", "parquet", null)) ++
          snap.props.get(graft.meta.SnapshotCatalog.CommentProp)
            .map(c => Row("Comment", c, null)).toSeq ++ Seq(
          Row("Snapshot", snap.snapshotId.toString, null),
          Row("Files", snap.files.size.toString, null),
          Row("Rows", snap.files.map(_.rowCount).sum.toString, null))
      case None =>
        val sql = cat.viewSql(name).getOrElse(throw new IllegalArgumentException(
          s"no table or view $name in the graft catalog"))
        // the view's shape comes from analyzing its body on the live
        // session — inner names resolve through the injected rules
        val schema = session.sql(sql).schema
        val cols = schema.fields.toSeq.map(f =>
          Row(f.name, f.dataType.simpleString, null))
        if (!isExtended) cols
        else cols ++ Seq(
          Row("", "", ""),
          Row("# Detailed View Information", "", ""),
          Row("Type", "graft view", null),
          Row("View Text", sql, null),
          Row("Version", cat.viewMeta(name).get.currentVersionId.toString, null))
    }
  }
}

/** `CREATE TABLE graft.t AS SELECT ...` → analyze the query on the live
  * session (catalog tables inside it resolve through the injected read
  * rules) and commit its result as the new table's first snapshot —
  * completing the SQL-only lifecycle: create, read, time-travel,
  * INSERT/DELETE/MERGE, all with zero code access. */
case class GraftCtasCommand(
    root: String,
    table: String,
    query: LogicalPlan,
    ignoreIfExists: Boolean,
    comment: Option[String] = None,
    properties: Map[String, String] = Map.empty) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    if (cat.tables().contains(table)) {
      if (ignoreIfExists) return Seq.empty
      throw new IllegalArgumentException(
        s"table $table already exists in the graft catalog " +
          "(use CREATE TABLE IF NOT EXISTS, or INSERT INTO to append)")
    }
    if (cat.viewMeta(table).isDefined) throw new IllegalArgumentException(
      s"a view named $table exists in this catalog; a table cannot shadow it")
    val df = GraftColumnShim.ofRows(session, query)
    // CREATE-time TBLPROPERTIES land on the FIRST snapshot (sticky from
    // birth): index props build their sidecars in this same write
    val (valueProps, bloomCols, sketchCols) =
      GraftDml.createTableProps(properties, df.schema, table)
    Writers.writeSnapshot(cat, table, df,
      GraftDml.dataDirFor(session, root, table),
      bloomColumns = bloomCols,
      sketchColumns = sketchCols,
      props = valueProps ++
        comment.map(graft.meta.SnapshotCatalog.CommentProp -> _).toMap)
    Seq.empty
  }
}

/** `CALL graft.<proc>(...)` → catalog maintenance from SQL — the
  * Iceberg stored-procedure surface (`CALL catalog.system.proc(...)`,
  * e.g. rewrite_data_files / expire_snapshots / remove_orphan_files /
  * rollback_to_snapshot), routed to the SAME maintenance code the Scala
  * API uses so SQL-scheduled jobs get identical semantics: compaction
  * commits are row-preserving (CDC-silent), expiration respects tags,
  * vacuum respects staged WAP files and branches, rollback/cherry-pick
  * are new commits (never history rewrites). Spark 4 parses CALL
  * natively ([[Call]] + UnresolvedProcedure); the rule claims only the
  * `graft` (or `graft.system`) namespace, so procedure catalogs keep
  * working. Each procedure returns a one-row summary the caller can
  * assert on — maintenance that can't report what it did can't be
  * audited.
  *
  * Scale: every procedure is metadata-bounded except compact (one read
  * + coalesce per bin, no shuffle) and remove_orphans (one listing of
  * the table's data dir) — the same contracts as the underlying API. */
case class GraftCallCommand(
    root: String,
    proc: String,
    positional: Seq[Any],
    named: Map[String, Any]) extends LeafRunnableCommand {

  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{BooleanType, LongType, StringType}

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    proc match {
      case "compact" =>
        Seq(AttributeReference("committed", BooleanType, nullable = false)(),
          AttributeReference("snapshot_id", LongType, nullable = true)())
      case "stage" =>
        Seq(AttributeReference("staged_id", StringType, nullable = false)())
      case "staged" =>
        Seq(AttributeReference("staged_id", StringType, nullable = false)(),
          AttributeReference("staged_at_ms", LongType, nullable = false)(),
          AttributeReference("files", LongType, nullable = false)())
      case "discard_staged" =>
        Seq(AttributeReference("discarded", BooleanType, nullable = false)())
      case "publish_if_clean" =>
        Seq(AttributeReference("rule", StringType, nullable = false)(),
          AttributeReference("violations", LongType, nullable = false)(),
          AttributeReference("published", BooleanType, nullable = false)())
      case "expire_snapshots" =>
        Seq(AttributeReference("expired", LongType, nullable = false)())
      case "enforce_retention" =>
        Seq(AttributeReference("table", StringType, nullable = false)(),
          AttributeReference("expired", LongType, nullable = false)(),
          AttributeReference("rows_swept", LongType, nullable = false)(),
          AttributeReference("error", StringType, nullable = true)())
      case "ingest" =>
        Seq(AttributeReference("ingested", LongType, nullable = false)(),
          AttributeReference("skipped", LongType, nullable = false)(),
          AttributeReference("rows", LongType, nullable = false)(),
          AttributeReference("snapshot_id", LongType, nullable = true)())
      case "export" =>
        Seq(AttributeReference("files", LongType, nullable = false)(),
          AttributeReference("bytes", LongType, nullable = false)())
      case "remove_orphans" =>
        Seq(AttributeReference("removed_data", LongType, nullable = false)(),
          AttributeReference("removed_sidecars", LongType, nullable = false)())
      case "changelog" =>
        Seq(AttributeReference("view",
          org.apache.spark.sql.types.StringType, nullable = false)())
      case "create_mv" =>
        Seq(AttributeReference("view", StringType, nullable = false)(),
          AttributeReference("refreshed_at", LongType, nullable = false)())
      case "refresh_mv" =>
        Seq(AttributeReference("view", StringType, nullable = false)(),
          AttributeReference("refreshed_at", LongType, nullable = true)(),
          AttributeReference("error", StringType, nullable = true)())
      case "materialize_deletes" =>
        Seq(AttributeReference("committed", BooleanType, nullable = false)(),
          AttributeReference("snapshot_id", LongType, nullable = true)())
      case "cache" =>
        Seq(AttributeReference("key", StringType, nullable = false)(),
          AttributeReference("hit", BooleanType, nullable = false)(),
          AttributeReference("view", StringType, nullable = false)())
      case "uncache" =>
        Seq(AttributeReference("evicted", LongType, nullable = false)())
      case "expire_cache" =>
        Seq(AttributeReference("expired", LongType, nullable = false)())
      case "cache_stats" =>
        Seq(AttributeReference("entries", LongType, nullable = false)(),
          AttributeReference("size_bytes", LongType, nullable = false)(),
          AttributeReference("max_bytes", LongType, nullable = false)(),
          AttributeReference("hits", LongType, nullable = false)(),
          AttributeReference("misses", LongType, nullable = false)(),
          AttributeReference("evictions", LongType, nullable = false)())
      case "check" =>
        Seq(AttributeReference("rule",
          org.apache.spark.sql.types.StringType, nullable = false)(),
          AttributeReference("violations", LongType, nullable = false)())
      case _ =>
        Seq(AttributeReference("snapshot_id", LongType, nullable = false)())
    }

  /** The manifest filters of an optional `where => 'pred'` argument —
    * scopes a maintenance sweep (compact / rewrite_sorted) to the files
    * the predicate keeps, the partition-at-a-time nightly shape. A
    * predicate yielding no prunable filter refuses loudly rather than
    * silently sweeping the whole table. */
  private def whereScope(session: SparkSession, cat: SnapshotCatalog,
      table: String): Seq[graft.meta.PruneFilter] = named.get("where") match {
    case Some(w) =>
      val schema = cat.schema(table).getOrElse(
        throw new IllegalArgumentException(s"no snapshots for table $table"))
      val fs = GraftSqlResolution.pruneFiltersFrom(
        session.sessionState.sqlParser.parseExpression(w.toString),
        schema, Set.empty)
      require(fs.nonEmpty,
        s"CALL graft.$proc: where => '$w' yields no manifest filter; use " +
          "bare-column comparisons against literals, or omit it for a full sweep")
      fs
    case None => Nil
  }

  /** Expectation rules from CALL arguments: every positional from
    * `firstPred` on is a SQL predicate (plain SQL, standard ''
    * escaping; the label reports verbatim), plus an optional
    * `unique => 'k1,k2'` key-uniqueness rule. Shared by check and
    * publish_if_clean so the audit and the gate can never diverge. */
  private def checkRules(firstPred: Int): Seq[graft.sinks.Expectation] = {
    val preds = positional.drop(firstPred).map(_.toString)
    val unique = named.get("unique").map(
      _.toString.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    val rules: Seq[graft.sinks.Expectation] =
      preds.map(p => graft.sinks.SqlCheck(p, p)) ++
        unique.map(graft.sinks.UniqueKey(_)).toSeq
    require(rules.nonEmpty,
      s"CALL graft.$proc: pass at least one predicate (or unique => 'k1,k2')")
    rules
  }

  private def arg(i: Int, name: String): Option[Any] =
    named.get(name).orElse(positional.lift(i))

  private def str(i: Int, name: String): String =
    arg(i, name).map(_.toString).getOrElse(throw new IllegalArgumentException(
      s"CALL graft.$proc: missing required argument '$name' (position $i)"))

  private def asLong(name: String, v: Any): Long = v match {
    case n: Number => n.longValue() // scala BigDecimal is a ScalaNumber, included
    case other => throw new IllegalArgumentException(
      s"CALL graft.$proc: argument '$name' must be numeric; got $other")
  }

  private def long(i: Int, name: String, default: Long): Long =
    arg(i, name).map(asLong(name, _)).getOrElse(default)

  private def reqLong(i: Int, name: String): Long =
    arg(i, name).map(asLong(name, _)).getOrElse(throw new IllegalArgumentException(
      s"CALL graft.$proc: missing required argument '$name' (position $i)"))

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    proc match {
      case "compact" =>
        // CALL graft.compact('t'[, target_mb, small_mb, min_files,
        // where => 'pred']) — `where` scopes the sweep like
        // rewrite_sorted's (partition-at-a-time nightly compaction)
        val table = str(0, "table")
        val res = Writers.compact(session, cat, table,
          GraftDml.dataDirFor(session, root, table),
          targetBytes = long(1, "target_mb", 128) << 20,
          smallBytes = long(2, "small_mb", 32) << 20,
          minFiles = long(3, "min_files", 2).toInt,
          scope = whereScope(session, cat, table))
        Seq(Row(res.isDefined, res.map(_.snapshotId).orNull))
      case "expire_snapshots" =>
        val table = str(0, "table")
        val retain = long(1, "retain_last", 1).toInt
        val n = named.get("older_than_ms") match {
          case Some(v) =>
            cat.expireSnapshotsOlderThan(table, asLong("older_than_ms", v), retain)
          case None => cat.expireSnapshots(table, retain)
        }
        Seq(Row(n.toLong))
      case "remove_orphans" =>
        // dry_run => true lists what WOULD go without deleting (the
        // Delta VACUUM DRY RUN safety valve)
        val table = str(0, "table")
        val graceMs = long(1, "grace_s", 3600L) * 1000L
        val dryRun = named.get("dry_run").exists(_.toString.toBoolean)
        val data = cat.vacuumDataFiles(table,
          GraftDml.dataDirFor(session, root, table), graceMs, dryRun = dryRun)
        val side = cat.vacuumSidecars(table, graceMs, dryRun = dryRun)
        Seq(Row(data.size.toLong, side.size.toLong))
      case "rollback" =>
        Seq(Row(cat.rollbackTo(session, str(0, "table"),
          reqLong(1, "version")).snapshotId))
      case "cherrypick" =>
        Seq(Row(cat.cherryPick(session, str(0, "table"),
          reqLong(1, "version")).snapshotId))
      case "clone" =>
        Seq(Row(cat.cloneTable(str(0, "table"), str(1, "target"),
          named.get("version").orElse(positional.lift(2))
            .map(asLong("version", _))).snapshotId))
      case "tag" =>
        val table = str(0, "table")
        val v = named.get("version").map(asLong("version", _))
          .orElse(positional.lift(2).map(asLong("version", _)))
          .getOrElse(cat.currentSnapshot(table).getOrElse(
            throw new IllegalArgumentException(s"no snapshots for $table")).snapshotId)
        cat.tag(table, str(1, "name"), v)
        Seq(Row(v))
      case "drop_tag" =>
        val existed = cat.dropTag(str(0, "table"), str(1, "name"))
        if (!existed) throw new IllegalArgumentException(
          s"no tag '${str(1, "name")}' on ${str(0, "table")}")
        Seq(Row(0L))
      case "branch" =>
        Seq(Row(cat.createBranch(str(0, "table"), str(1, "name"),
          named.get("version").orElse(positional.lift(2))
            .map(asLong("version", _))).snapshotId))
      case "drop_branch" =>
        val existed = cat.dropBranch(str(0, "table"), str(1, "name"))
        if (!existed) throw new IllegalArgumentException(
          s"no branch '${str(1, "name")}' on ${str(0, "table")}")
        Seq(Row(0L))
      case "fast_forward" =>
        Seq(Row(cat.fastForward(str(0, "table"), str(1, "name")).snapshotId))
      case "check" =>
        // CALL graft.check('t', 'pred1', 'pred2', ...[, unique =>
        // 'k1,k2', staged => 'id']) — data-quality audit from SQL
        // (S45's Expectations): every predicate's violation count
        // (null = violation: an unknown check must not pass) plus an
        // optional key-uniqueness rule, ALL folded into ONE aggregate
        // over ONE scan regardless of rule count. Rows report per-rule
        // counts; zero = holds. With staged => the audit runs over the
        // PROSPECTIVE state of that staged WAP commit (current rows +
        // staged files) — the audit half of write-audit-publish, before
        // anything becomes visible.
        val table = str(0, "table")
        val rules = checkRules(firstPred = 1)
        val frame = named.get("staged") match {
          case Some(id) => graft.sinks.Expectations.auditStaged(
            session, cat, table, id.toString, rules)
          case None => graft.sinks.Expectations.check(
            cat.read(session, table), rules)
        }
        frame.collect().toSeq
      case "stage" =>
        // CALL graft.stage('t', 'SELECT ...') — the WRITE half of
        // write-audit-publish from pure SQL: run the query, cast its
        // columns positionally to the table schema (INSERT semantics)
        // and record the files OUTSIDE the snapshot chain. Readers, CDC
        // and streaming sources see nothing until publish; the returned
        // staged id is what check(staged =>), publish_staged,
        // publish_if_clean and discard_staged take.
        val table = str(0, "table")
        val q = str(1, "query")
        val schema = cat.schema(table).getOrElse(
          throw new IllegalArgumentException(s"no snapshots for table $table"))
        val src = session.sql(q)
        require(src.columns.size == schema.size,
          s"CALL graft.$proc: $table needs ${schema.size} columns, " +
            s"the query produced ${src.columns.size}")
        val projected = src.select(src.columns.zip(schema.fields).map {
          case (c, f) => GraftDml.qcol(c).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
        Seq(Row(Writers.stageAppendSnapshot(cat, table, projected,
          GraftDml.dataDirFor(session, root, table))))
      case "staged" =>
        // CALL graft.staged('t') — the audit queue: staged-but-
        // unpublished WAP commits, oldest first. Metadata-only.
        val table = str(0, "table")
        cat.listStaged(table).flatMap(cat.staged(table, _))
          .sortBy(_.timestampMs)
          .map(st => Row(st.stagedId, st.timestampMs, st.paths.size.toLong))
      case "publish_staged" =>
        // CALL graft.publish_staged('t', 'id') — the unconditional
        // PUBLISH: the staged files land on top of the CURRENT snapshot
        // through the normal optimistic commit (append cherry-pick), so
        // commits that raced in after staging are preserved.
        Seq(Row(cat.publishStaged(session, str(0, "table"),
          str(1, "staged_id")).snapshotId))
      case "discard_staged" =>
        // CALL graft.discard_staged('t', 'id') — drop a staged commit
        // that failed its audit; its files fall to remove_orphans. An
        // unknown id refuses loudly (an audit trail must not silently
        // 'discard' nothing).
        val table = str(0, "table")
        val id = str(1, "staged_id")
        if (cat.staged(table, id).isEmpty) throw new IllegalArgumentException(
          s"no staged commit $id for table $table")
        cat.discardStaged(table, id)
        Seq(Row(true))
      case "publish_if_clean" =>
        // CALL graft.publish_if_clean('t', 'id', 'pred1', ...[, unique
        // => 'k1,k2']) — the gated publish that closes the WAP loop:
        // audit the PROSPECTIVE state, publish iff every rule has zero
        // violations. On failure the staged entry is LEFT IN PLACE
        // (inspect with check(staged =>), then fix-and-restage or
        // discard) — an audit must never destroy the evidence it failed
        // on. Rows report per-rule counts plus the outcome.
        val table = str(0, "table")
        val id = str(1, "staged_id")
        val rules = checkRules(firstPred = 2)
        graft.sinks.Expectations.publishStagedIfClean(
            session, cat, table, id, rules) match {
          case Right(_) =>
            rules.map(_.name).sorted.map(n => Row(n, 0L, true))
          case Left(report) =>
            report.toSeq.sortBy(_._1).map { case (n, v) => Row(n, v, false) }
        }
      case "changelog" =>
        // CALL graft.changelog('t', from [, to, view => 'name',
        // mode => 'net'|'percommit']) — register the row-level change
        // feed between two snapshots as a temp view (Iceberg's
        // create_changelog_view): incremental ETL from pure SQL. 'net'
        // (default) cancels intra-range churn to the endpoint delta;
        // 'percommit' preserves it with `_commit_snapshot_id` /
        // `_commit_timestamp_ms` attribution (the Delta CDF surface) for
        // audit trails and ordered replay. The view is a LAZY plan over
        // the feed — nothing materializes until queried; at 100 TB the
        // consumer filters/aggregates it like any relation and only the
        // feed's era-scoped files are read.
        val table = str(0, "table")
        val from = long(1, "from_snapshot", -1L)
        require(from >= 0, s"CALL graft.$proc: pass the from-snapshot id")
        val to = arg(2, "to_snapshot").map(asLong("to_snapshot", _))
        val perCommit = SnapshotCatalog.perCommitFeed(named.get("mode").map(_.toString))
        val view = named.get("view").map(_.toString).getOrElse(s"${table}_changes")
        require(view.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"CALL graft.$proc: invalid view name $view")
        // a temp view deliberately wins un-suffixed name resolution, so a
        // feed named like a catalog table/view would silently shadow it
        // for every later plain-name read in this session — refuse and
        // ask for a distinct name rather than hijack the catalog
        if (cat.tables().contains(view) || cat.viewMeta(view).isDefined)
          throw new IllegalArgumentException(
            s"CALL graft.$proc: '$view' names an existing catalog " +
              s"${if (cat.viewMeta(view).isDefined) "view" else "table"} and a temp " +
              "view would shadow it for plain-name reads; pass view => '<other name>'")
        val feed =
          if (perCommit) cat.changesPerCommit(session, table, from, to)
          else cat.changesBetween(session, table, from, to)
        feed.createOrReplaceTempView(view)
        Seq(Row(view))
      case "delete_by_keys" =>
        // CALL graft.delete_by_keys('t', 'k', 'v1,v2') — the zero-scan
        // GDPR-erasure path from SQL (S41): an equality-delete mask over
        // the listed key values. O(|keys|) driver work — one tiny key
        // parquet + one metadata commit; NO data file of the table is
        // opened (manifest min/max + blooms scope the mask), regardless
        // of table size. A later append of the same key stays visible.
        val table = str(0, "table")
        val keyCol = str(1, "key_column")
        val values = str(2, "values").split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        require(values.nonEmpty,
          s"CALL graft.$proc: pass at least one key value (comma-separated)")
        val schema = cat.schema(table).getOrElse(
          throw new IllegalArgumentException(s"no snapshots for table $table"))
        val field = schema.find(_.name == keyCol).getOrElse(
          throw new IllegalArgumentException(
            s"CALL graft.$proc: no column $keyCol in $table " +
              s"(has: ${schema.fieldNames.mkString(", ")})"))
        import session.implicits._
        // try_cast (not cast): a malformed value must surface as THIS
        // verb's named refusal, not ANSI's generic cast error — and under
        // ansi=false a plain cast would NULL silently and never match
        val keys = values.toDF("__raw").select(
          org.apache.spark.sql.functions.expr(
            s"try_cast(__raw AS ${field.dataType.sql})").as(keyCol))
        val bad = keys.filter(org.apache.spark.sql.functions.col(keyCol).isNull).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"CALL graft.$proc: $bad of ${values.size} values do not parse as " +
            s"$keyCol's type (${field.dataType.catalogString}); nothing deleted")
        Seq(Row(Writers.deleteByKeys(session, cat, table, keys, Seq(keyCol),
          GraftDml.dataDirFor(session, root, table)).snapshotId))
      case "create_mv" =>
        // CALL graft.create_mv('mv', 'src', 'k1,k2'[, 'c1,c2',
        // avg_columns => 'a', min_columns => 'm', max_columns => 'M',
        // nd_columns => 'd', where => 'pred']) — build an
        // incrementally-maintained aggregate view (S39 from SQL): keyed
        // COUNT + SUMs (+ AVG state, MIN/MAX with key-scoped recompute
        // under invalidating deletes, HLL approx COUNT DISTINCT) of the
        // source's CURRENT snapshot, optionally scoped to `where`,
        // stored as a first-class catalog table carrying its own
        // definition and refreshed_at watermark. Omit every aggregate
        // column for a count-only view.
        val view = str(0, "view")
        val src = str(1, "source_table")
        def colsArg(i: Int, name: String): Seq[String] =
          arg(i, name).map(_.toString.split(",").toSeq
            .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
        val keys = str(2, "key_columns").split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        require(keys.nonEmpty, s"CALL graft.$proc: pass at least one key column")
        val mvSpec = graft.sinks.MaterializedAgg.MvSpec(src, keys,
          sums = colsArg(3, "sum_columns"),
          avgs = colsArg(-1, "avg_columns"),
          mins = colsArg(-1, "min_columns"),
          maxs = colsArg(-1, "max_columns"),
          nds = colsArg(-1, "nd_columns"),
          where = named.get("where").map(_.toString))
        val at = graft.sinks.MaterializedAgg.build(session, cat, mvSpec, view,
          GraftDml.dataDirFor(session, root, view))
        Seq(Row(view, at))
      case "refresh_mv" =>
        // CALL graft.refresh_mv(['mv']) — fold the source's change feed
        // since the view's watermark into the keyed state: refresh cost
        // ∝ CHANGED rows, never source size (the 100 TB MV maintenance
        // shape). The definition rides the view's own snapshot props, so
        // the scheduled job needs only the view name. No source movement
        // = no commit (the returned watermark is unchanged). With NO
        // args: refresh EVERY materialized view in the catalog — one
        // scheduled statement maintains them all (the enforce_retention
        // symmetry), with per-view error isolation (one broken view
        // reports in its row; the sweep continues).
        def refreshOne(view: String): Long = graft.sinks.MaterializedAgg
          .refreshByName(session, cat, view, GraftDml.dataDirFor(session, root, view))
        arg(0, "view") match {
          case Some(v) => Seq(Row(v.toString, refreshOne(v.toString), null))
          case None =>
            graft.sinks.MaterializedAgg.views(cat).map { v =>
              try Row(v, refreshOne(v), null)
              catch { case e: Exception => Row(v, null, e.getMessage) }
            }
        }
      case "materialize_deletes" =>
        // CALL graft.materialize_deletes('t') — fold outstanding MoR
        // position/equality masks into rewritten data files (rows
        // IDENTICAL before and after; the feed stays silent, like
        // compaction). The SQL spelling of the step the column-DDL
        // refusals under equality deletes ask for; run it when the
        // masked fraction makes the per-scan anti-join noticeable.
        // No outstanding masks = no commit.
        val table = str(0, "table")
        Writers.materializeDeletes(session, cat, table,
            GraftDml.dataDirFor(session, root, table)) match {
          case Some(snap) => Seq(Row(true, snap.snapshotId))
          case None => Seq(Row(false, null))
        }
      case "cache" =>
        // CALL graft.cache('t'[, predicate => 'pred', columns =>
        // 'c1,c2', view => 'name']) — the reference's KEYED cache
        // (S5–S12) from SQL: a hit serves the persisted plan, a miss
        // loads (current snapshot, optional filter/projection), evicts
        // to fit the byte budget, persists (MEMORY_AND_DISK — Spark's
        // block manager is the memory pool, spilling instead of
        // OOMing) and registers the entry as a temp view for later
        // statements. A cached entry PINS the snapshot read at cache
        // time; invalidate after writes with CALL graft.uncache.
        val table = str(0, "table")
        require(cat.currentSnapshot(table).isDefined,
          s"CALL graft.$proc: no table $table in this catalog")
        val pred = named.get("predicate").map(_.toString).getOrElse("")
        val cacheCols = named.get("columns").map(_.toString.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
        val view = named.get("view").map(_.toString).getOrElse(s"${table}_cached")
        require(view.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"CALL graft.$proc: invalid view name $view")
        if (cat.tables().contains(view) || cat.viewMeta(view).isDefined)
          throw new IllegalArgumentException(
            s"CALL graft.$proc: '$view' names an existing catalog " +
              s"${if (cat.viewMeta(view).isDefined) "view" else "table"} and a temp " +
              "view would shadow it for plain-name reads; pass view => '<other name>'")
        val tc = GraftSqlResolution.cacheFor(root)
        val key = graft.cache.CacheKey(table, pred, cacheCols)
        val before = tc.stats
        val df = tc.getOrLoad(key) {
          val base = cat.read(session, table)
          val filtered = if (pred.nonEmpty) base.filter(pred) else base
          if (cacheCols.nonEmpty)
            filtered.select(cacheCols.toSeq.sorted.map(c => GraftDml.qcol(c)): _*)
          else filtered
        }
        df.createOrReplaceTempView(view)
        Seq(Row(key.render, tc.stats.hits > before.hits, view))
      case "uncache" =>
        // CALL graft.uncache('t') — drop every cached entry of the
        // table (the reference's invalidate_table): the explicit
        // invalidation after writes
        Seq(Row(GraftSqlResolution.cacheFor(root)
          .invalidateTable(str(0, "table")).toLong))
      case "expire_cache" =>
        // CALL graft.expire_cache(ttl_ms) — evict entries idle beyond
        // the TTL (the reference's maintenance sweep, caller-scheduled)
        Seq(Row(GraftSqlResolution.cacheFor(root)
          .expire(reqLong(0, "ttl_ms")).toLong))
      case "cache_stats" =>
        // CALL graft.cache_stats() — entries/bytes/budget plus
        // hit/miss/eviction counters (the reference's get_stats)
        val s0 = GraftSqlResolution.cacheFor(root).stats
        Seq(Row(s0.entries.toLong, s0.sizeBytes, s0.maxSizeBytes,
          s0.hits, s0.misses, s0.evictions))
      case "expire_rows" =>
        // CALL graft.expire_rows('t', 'ts_col', cutoff_ms => t |
        // older_than_ms => age) — the nightly compliance TTL sweep
        // (S40's expireRowsOlderThan) from pure SQL: every row whose
        // ts_col is strictly before the cutoff expires as a MoR mask.
        // Manifest min/max prune bounds the marking scan to files that
        // could hold old rows — on a time-ordered ingest layout the
        // cold prefix, never the live tail — and the commit is pure
        // metadata. No matching rows = no commit (the returned id is
        // the unchanged head).
        val table = str(0, "table")
        val tsCol = str(1, "ts_column")
        val cutoff = named.get("cutoff_ms").map(asLong("cutoff_ms", _))
          .orElse(named.get("older_than_ms").map(a =>
            System.currentTimeMillis() - asLong("older_than_ms", a)))
          .getOrElse(throw new IllegalArgumentException(
            s"CALL graft.$proc: pass cutoff_ms => <epoch ms> or " +
              "older_than_ms => <age ms>"))
        Seq(Row(Writers.expireRowsOlderThan(session, cat, table, tsCol, cutoff,
          GraftDml.dataDirFor(session, root, table)).snapshotId))
      case "enforce_retention" =>
        // CALL graft.enforce_retention(['t'][, dry_run => true]) —
        // apply the table's OWN sticky retention policy: the row-TTL
        // sweep (`graft.retention.rows.column`/`.ms`, a MoR mask) then
        // the history trim (`graft.retention.snapshots`/`.ms`) — set
        // via ALTER TABLE SET TBLPROPERTIES; the policy lives WITH the
        // table, Iceberg's history.expire.* pattern. With no args:
        // sweep EVERY catalog table that declares a policy — the one
        // scheduled statement that maintains a whole catalog; tables
        // that never opted in are never touched. A named table WITHOUT
        // a policy refuses loudly (the sweep skips, an explicit call
        // must not silently no-op). dry_run reports both counts and
        // touches nothing — the safety valve before an aggressive
        // policy goes live.
        val dryRun = named.get("dry_run").exists(_.toString.toBoolean)
        def enforce(table: String): Row = {
          val (expired, rows) = Writers.enforceRetention(session, cat, table,
            GraftDml.dataDirFor(session, root, table), dryRun = dryRun)
          Row(table, expired.toLong, rows, null)
        }
        arg(0, "table") match {
          case Some(t) => Seq(enforce(t.toString))
          case None =>
            // per-table isolation: ONE misconfigured table (half row
            // policy, dangling column) must not abort maintenance for
            // every table sorted after it — its row reports the error,
            // the sweep continues (a catalog-wide compliance outage
            // from one bad policy is worse than a deferred failure)
            cat.tables().filter(cat.hasRetentionPolicy).map { t =>
              try enforce(t)
              catch { case e: Exception => Row(t, 0L, 0L, e.getMessage) }
            }
        }
      case "ingest" =>
        // CALL graft.ingest('t', '/landing/dir'[, format => 'csv'|
        // 'json'|'parquet', pattern => '*.csv', header => 'true',
        // ...reader options]) — idempotent COPY INTO: load exactly the
        // files that arrived since the last run (fingerprints ride the
        // commit, so data + dedupe state land atomically), skip
        // everything already ingested. The scheduled landing-zone shape:
        // run it hourly, pay only for fresh bytes.
        val table = str(0, "table")
        val src = str(1, "source")
        val fmt = named.get("format").map(_.toString.toLowerCase).getOrElse("parquet")
        // files => names the batch EXACTLY; a pattern alongside it has
        // no row to act on and a caller passing both is confused about
        // which selects — refuse rather than silently ignore one
        require(!(named.contains("files") && named.contains("pattern")),
          s"CALL graft.$proc: pass files => OR pattern =>, not both " +
            "(an explicit file list already names the batch exactly)")
        val pattern = named.get("pattern").map(_.toString).getOrElse("*")
        // a fresh-born table must not shadow a view (the CTAS discipline)
        if (cat.currentSnapshot(table).isEmpty && cat.viewMeta(table).isDefined)
          throw new IllegalArgumentException(
            s"a view named $table exists in this catalog; a table cannot shadow it")
        // the catalog's own storage is never a landing zone: ingesting
        // from under the root would re-load committed bytes as new rows
        scala.util.Try(java.nio.file.Paths.get(src).toAbsolutePath.normalize).foreach { sn =>
          require(!sn.startsWith(java.nio.file.Paths.get(root).toAbsolutePath.normalize),
            s"ingest source $src is inside the catalog root $root")
        }
        // strip every verb-level arg (incl. named-style positionals) so
        // only genuine reader options pass through
        val opts = (named -- Seq("format", "pattern", "table", "source",
            "files", "max_files", "partition_by"))
          .map { case (k, v) => k -> v.toString }
        val res = graft.sinks.Ingest.ingest(session, cat, table, src, fmt, opts,
          GraftDml.dataDirFor(session, root, table), pattern,
          explicitFiles = named.get("files").map(_.toString.split(",").toSeq
            .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
          maxFiles = named.get("max_files").map(asLong("max_files", _).toInt),
          partitionBy = named.get("partition_by").map(_.toString.split(",")
            .toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil))
        Seq(Row(res.ingested.toLong, res.skipped.toLong, res.rows,
          res.snapshotId.map(java.lang.Long.valueOf).orNull))
      case "export" =>
        // CALL graft.export('t', '/out'[, format => 'parquet'|'csv'|
        // 'json', version => id|'tag', where => 'pred',
        // overwrite => true, ...writer options]) — write a table state
        // to an EXTERNAL directory (the inverse of ingest): consumers
        // that read files, not catalogs. `where` both file-prunes via
        // the manifests and row-filters, so a partition-scoped export
        // reads only its files. Default refuses an existing dest.
        // With changes_from => N [, changes_to => M, mode =>
        // 'percommit'] the shards carry the CHANGE FEED of the range
        // instead of a state — `_change_type`-tagged rows a downstream
        // system APPLIES (the feed's apply-law: from-state + shards =
        // to-state), per-commit attribution on request.
        val table = str(0, "table")
        val dest = str(1, "dest")
        // containment through the Hadoop filesystem of each path (NOT a
        // java.nio walk): the check must hold — not silently skip — for
        // every destination URI the writer itself accepts (s3a://,
        // hdfs://); a remote scheme can never prefix a local root, so
        // remote destinations pass by construction
        locally {
          val conf = session.sessionState.newHadoopConf()
          def resolved(s: String): String = {
            val p = new org.apache.hadoop.fs.Path(s)
            val u = p.getFileSystem(conf).makeQualified(p).toUri.normalize()
            // null and empty authority canonicalize the same: file:/x
            // and file:///x are one location
            s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
          }
          val dn = resolved(dest)
          val rn = resolved(root).stripSuffix("/")
          require(dn != rn && !dn.startsWith(rn + "/"),
            s"export destination $dest is inside the catalog root $root")
        }
        val fmt = named.get("format").map(_.toString.toLowerCase).getOrElse("parquet")
        val overwrite = named.get("overwrite").exists(_.toString.toBoolean)
        val whereArg = named.get("where").map(_.toString)
        val partitionBy = named.get("partition_by").map(_.toString.split(",")
          .toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
        val opts = (named -- Seq("format", "version", "as_of_ms", "where", "overwrite",
            "partition_by", "table", "dest", "changes_from", "changes_to", "mode"))
          .map { case (k, v) => k -> v.toString }
        named.get("changes_from") match {
          case Some(fromArg) =>
            val stateArgs = Seq("version", "as_of_ms", "where").filter(named.contains)
            require(stateArgs.isEmpty,
              s"CALL graft.$proc: changes_from is a FEED export; " +
                s"${stateArgs.mkString(", ")} select a STATE — pass one or the other")
            val (nFiles, nBytes) = graft.sinks.Export.exportChanges(session, cat,
              table, dest, asLong("changes_from", fromArg),
              toSnapshotId = named.get("changes_to").map(asLong("changes_to", _)),
              perCommit = SnapshotCatalog.perCommitFeed(named.get("mode").map(_.toString)),
              format = fmt, options = opts,
              overwrite = overwrite, partitionBy = partitionBy)
            Seq(Row(nFiles, nBytes))
          case None =>
            require(!named.contains("mode"),
              s"CALL graft.$proc: mode applies to a changes_from feed export only")
            // resolve the pinned snapshot FIRST and derive the `where`
            // prune filters from ITS schema — after a rename or type
            // widening since that snapshot, the current schema would
            // translate filters against the wrong stats domain. Unlike
            // the maintenance sweeps, a non-prunable where is FINE here
            // (the row filter still applies; the full scan is the
            // honest cost), so the filters are computed leniently.
            val snap = graft.sinks.Export.resolveState(cat, table,
              named.get("version").map(_.toString),
              named.get("as_of_ms").map(asLong("as_of_ms", _)))
            val lenientPrune = whereArg.map { w =>
              GraftSqlResolution.pruneFiltersFrom(
                session.sessionState.sqlParser.parseExpression(w), snap.schema, Set.empty)
            }.getOrElse(Nil)
            val (nFiles, nBytes) = graft.sinks.Export.export(session, cat, table, dest,
              fmt, opts, where = whereArg, pruneFilters = lenientPrune,
              overwrite = overwrite, partitionBy = partitionBy,
              resolvedState = Some(snap))
            Seq(Row(nFiles, nBytes))
        }
      case "rewrite_sorted" =>
        // CALL graft.rewrite_sorted('t', 'c1', 'c2', ...[, files => n,
        // zorder => true, where => 'pred']) — re-cluster by the sort
        // columns (Iceberg rewrite_data_files sort_order / Delta
        // OPTIMIZE ZORDER). `where` scopes the sweep to the files its
        // manifest filters keep — the partition-at-a-time maintenance
        // shape at 100 TB; a predicate that yields no prunable filter
        // refuses loudly rather than silently sweeping the whole table.
        val table = str(0, "table")
        val cols = positional.drop(1).map(_.toString)
        require(cols.nonEmpty,
          s"CALL graft.$proc: pass the sort columns after the table name")
        val z = named.get("zorder").exists {
          case b: Boolean => b
          case s => s.toString.equalsIgnoreCase("true")
        }
        Seq(Row(Writers.rewriteSorted(session, cat, table,
          GraftDml.dataDirFor(session, root, table), cols,
          nFiles = named.get("files").map(asLong("files", _).toInt).getOrElse(16),
          zorder = z, scope = whereScope(session, cat, table)).snapshotId))
      case "index" =>
        // CALL graft.index('t', 'c1', ...[, type => 'bloom'|'sketch'|'both',
        // fpp => 0.03]) — enable sticky index maintenance on the columns
        // and backfill existing files (metadata-only commit; the Delta
        // CREATE BLOOMFILTER INDEX surface for a SQL-only deployment)
        val table = str(0, "table")
        val cols = positional.drop(1).map(_.toString)
        require(cols.nonEmpty,
          s"CALL graft.$proc: pass the columns to index after the table name")
        val kind = named.get("type").map(_.toString.toLowerCase).getOrElse("bloom")
        require(Set("bloom", "sketch", "both").contains(kind),
          s"CALL graft.$proc: type must be 'bloom', 'sketch' or 'both'; got '$kind'")
        val fpp = named.get("fpp").map {
          case n: Number => n.doubleValue()
          case o => o.toString.toDouble
        }.getOrElse(0.03)
        Seq(Row(cat.indexColumns(session, table,
          bloomColumns = if (kind != "sketch") cols else Nil,
          sketchColumns = if (kind != "bloom") cols else Nil,
          bloomFpp = fpp).snapshotId))
      case "drop_index" =>
        // CALL graft.drop_index('t', 'c1', ...) — stop maintaining and
        // drop the per-file bloom/sketch entries; sidecars fall to vacuum
        val table = str(0, "table")
        val cols = positional.drop(1).map(_.toString)
        require(cols.nonEmpty,
          s"CALL graft.$proc: pass the columns after the table name")
        Seq(Row(cat.dropIndexColumns(session, table, cols).snapshotId))
      case other =>
        throw new UnsupportedOperationException(
          s"unknown graft procedure '$other'; supported: compact, " +
            "expire_snapshots, remove_orphans, rollback, cherrypick, clone, " +
            "tag, drop_tag, branch, drop_branch, fast_forward, rewrite_sorted, " +
            "index, drop_index, check, changelog, stage, staged, " +
            "publish_staged, publish_if_clean, discard_staged, expire_rows, " +
            "enforce_retention, ingest, export, delete_by_keys, create_mv, refresh_mv, " +
            "materialize_deletes, cache, uncache, expire_cache, cache_stats")
    }
  }
}

/** `CREATE TABLE graft.t (cols)` → the table's first snapshot is an
  * EMPTY commit carrying the declared schema — with S53/S54/S55 this
  * closes the last SQL-lifecycle seam (a table can now be born with a
  * schema and populated later, the ingest-pipeline bootstrap shape).
  * One schema-bearing empty parquet file anchors the manifest schema. */
case class GraftCreateCommand(
    root: String,
    table: String,
    tableSchema: org.apache.spark.sql.types.StructType,
    ignoreIfExists: Boolean,
    comment: Option[String] = None,
    properties: Map[String, String] = Map.empty) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    if (cat.tables().contains(table)) {
      if (ignoreIfExists) return Seq.empty
      throw new IllegalArgumentException(
        s"table $table already exists in the graft catalog")
    }
    if (cat.viewMeta(table).isDefined) throw new IllegalArgumentException(
      s"a view named $table exists in this catalog; a table cannot shadow it")
    val empty = session.createDataFrame(
      new java.util.ArrayList[Row](), tableSchema).repartition(1)
    // CREATE-time TBLPROPERTIES: the table is BORN with its retention
    // policy / index columns (sticky from the first snapshot — no
    // separate ALTER needed, and SHOW CREATE TABLE round-trips them)
    val (valueProps, bloomCols, sketchCols) =
      GraftDml.createTableProps(properties, tableSchema, table)
    // the parquet footer can't carry nullability or column defaults —
    // pass the declared schema so the first snapshot records the
    // contracts verbatim; a table COMMENT lands as the sticky prop on
    // the SAME first snapshot (no extra commit)
    Writers.writeSnapshot(cat, table, empty,
      GraftDml.dataDirFor(session, root, table),
      bloomColumns = bloomCols,
      sketchColumns = sketchCols,
      props = valueProps ++
        comment.map(graft.meta.SnapshotCatalog.CommentProp -> _).toMap,
      declaredSchema = Some(tableSchema))
    Seq.empty
  }
}

/** `COMMENT ON TABLE t IS 'x' | NULL` → the sticky `graft.comment` prop
  * in ONE metadata-only commit; every later commit carries it, and
  * DESCRIBE EXTENDED / SHOW TBLPROPERTIES / SHOW CREATE TABLE render
  * it. IS NULL clears. */
case class GraftCommentCommand(
    root: String,
    table: String,
    comment: Option[String]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    GraftSqlResolution.catalogFor(root).setTableComment(table, comment)
    Seq.empty
  }
}

/** `TRUNCATE TABLE t` → a full-table replace with an empty frame of the
  * CURRENT schema: one snapshot, previous files netted as deletes by the
  * change feed, time travel still reaches every pre-truncate state. */
case class GraftTruncateCommand(
    root: String,
    table: String) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    val tableSchema = cat.schema(table).getOrElse(throw new IllegalArgumentException(
      s"no table $table in the graft catalog"))
    val empty = session.createDataFrame(
      new java.util.ArrayList[Row](), tableSchema).repartition(1)
    Writers.replaceSnapshot(cat, table, empty,
      GraftDml.dataDirFor(session, root, table))
    Seq.empty
  }
}

/** `ALTER TABLE t RENAME TO t2` → [[SnapshotCatalog.renameTable]]: a
  * metadata-only move (manifests, pointer, tags, staged entries, branch
  * metadata); data files and sidecars are path-addressed and stay put,
  * so history, branches and clones keep working. Refuses under
  * dependent views and on collisions. */
case class GraftRenameTableCommand(
    root: String,
    table: String,
    newName: String) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    GraftSqlResolution.catalogFor(root).renameTable(table, newName)
    // a re-created table under the OLD name must never hit the moved
    // table's cached entries (and they'd otherwise pin memory forever)
    GraftSqlResolution.cacheFor(root).invalidateTable(table)
    Seq.empty
  }
}

/** `DROP TABLE [IF EXISTS] t [PURGE]` → [[SnapshotCatalog.dropTable]]:
  * removes the table's metadata tree (snapshots, tags, branches, staged
  * commits) and leaves every payload byte in place, since a zero-copy
  * clone may still read it. PURGE → [[SnapshotCatalog.purgeTable]]: also
  * deletes the paths main's and every branch's histories reference
  * (data, delete files, sidecars, the vector index) that no other table
  * or branch still references, then the directories left empty. The
  * target may also be a backquoted branch ref `t/branches/dev` (drops
  * just that branch, same purge discipline). */
case class GraftDropCommand(
    root: String,
    table: String,
    ifExists: Boolean,
    purge: Boolean) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = GraftSqlResolution.catalogFor(root)
    val isBranchRef = table.contains("/branches/")
    val exists =
      if (isBranchRef)
        scala.util.Try(cat.currentSnapshot(table)).toOption.flatten.nonEmpty
      else cat.tables().contains(table)
    if (!exists) {
      if (ifExists) return Seq.empty
      throw new IllegalArgumentException(
        s"no table $table in the graft catalog (DROP TABLE IF EXISTS to ignore)")
    }
    if (purge) cat.purgeTable(table) else cat.dropTable(table)
    // cached entries outlive the NAME, not the table: a later table
    // re-created under this name must never hit a stale persisted plan
    GraftSqlResolution.cacheFor(root).invalidateTable(table)
    Seq.empty
  }
}
