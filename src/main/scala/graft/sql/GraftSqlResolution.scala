package graft.sql

import graft.meta.{EqString, InString, PruneFilter, RangeNum, RangeString, SnapshotCatalog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-level access to the snapshot catalog via pure
  * `SparkSessionExtensions` — the Iceberg-parity time-travel syntax for
  * SQL-only users (reference: src/iceberg_management/metadata.py:222
  * `time_travel_scan`, reachable there only through the Python API):
  *
  *   SELECT ... FROM <table> VERSION AS OF 3          -- snapshot id
  *   SELECT ... FROM <table> VERSION AS OF 'prod'     -- tag or branch
  *   SELECT ... FROM <table> TIMESTAMP AS OF '2026-01-01 00:00:00'
  *
  * plus plain `SELECT ... FROM <table>` resolution for any committed
  * catalog table that is not already a temp view. Activated by setting
  * `spark.graft.catalog.root` (the catalog directory) on any session
  * running with `spark.sql.extensions=graft.GraftExtensions` — no code
  * access needed, the shared-cluster deployment story.
  *
  * Spark-first mechanics: the parser already produces
  * [[RelationTimeTravel]] for the `AS OF` syntax; the time-travel rule
  * is injected into the HINT-resolution batch, which runs BEFORE the
  * analyzer's `ResolveRelations` — so graft resolves the `AS OF` even
  * when the same name is registered as a temp view (Spark itself
  * refuses time travel over temp views; the catalog is what holds the
  * history). The substituted subtree is the ANALYZED plan of the
  * pruned snapshot read — Catalyst then pushes filters/projections
  * into its parquet scan like any view expansion. Plain-name fallback
  * is a normal resolution rule, so real temp views and session-catalog
  * tables always win for un-suffixed names.
  *
  * MANIFEST PRUNING THROUGH SQL: when a `WHERE` sits directly above the
  * relation, its literal conjuncts (=, <, <=, >, >=, IN over one
  * column) translate to [[PruneFilter]]s BEFORE the file list is
  * planned — so a selective SQL query on a stat/bloom-indexed layout
  * opens only the files that could match, the same file skipping the
  * code API gets from `read(filters)`. Translation is conservative
  * (untranslatable conjuncts keep all files) and the original Filter
  * always stays in the plan, so results are exact regardless. At
  * 100 TB this is the difference between a metadata-bounded scan and
  * opening every footer the moment a user arrives via SQL. */
object GraftSqlResolution {
  /** Session conf key holding the catalog root directory. */
  val RootConf = "spark.graft.catalog.root"

  // one catalog instance per root: SnapshotCatalog memoizes manifest
  // parses, and a fresh instance per query would defeat that
  private val catalogs = new java.util.concurrent.ConcurrentHashMap[String, SnapshotCatalog]()
  def catalogFor(root: String): SnapshotCatalog =
    catalogs.computeIfAbsent(root, r => new SnapshotCatalog(r))

  // One keyed TableCache per catalog root — the SQL CALL cache verbs'
  // backing store, scoped like the catalog itself (a JVM serving two
  // roots keeps their budgets and stats separate).
  private val tableCaches =
    new java.util.concurrent.ConcurrentHashMap[String, graft.cache.TableCache]()
  def cacheFor(root: String): graft.cache.TableCache =
    tableCaches.computeIfAbsent(root, _ => new graft.cache.TableCache())

  private[sql] def rootOf(session: SparkSession): Option[String] =
    session.conf.getOption(RootConf).filter(_.nonEmpty)

  /** The name parts this rule claims: a bare `t`, an explicit `graft.t`
    * that bypasses any same-named temp view, or a backquoted branch ref
    * `` `t/branches/dev` `` (readable AND writable — the ref is a full
    * catalog table, so every DML/maintenance path works on it). */
  private[sql] def claimedTable(parts: Seq[String], cat: SnapshotCatalog): Option[String] = {
    def branchRefExists(t: String): Boolean =
      t.contains("/branches/") && !t.contains("..") &&
        scala.util.Try(cat.currentSnapshot(t)).toOption.flatten.nonEmpty
    parts match {
      case Seq(t) if cat.tables().contains(t) || branchRefExists(t) => Some(t)
      case Seq(ns, t) if ns.equalsIgnoreCase("graft") &&
        (cat.tables().contains(t) || branchRefExists(t)) => Some(t)
      case _ => None
    }
  }

  /** Evaluate a `TIMESTAMP AS OF` expression to epoch millis: cast to
    * timestamp in the session zone, require foldability (the grammar
    * only admits literals/simple exprs), eval to micros. */
  private[sql] def evalAsOfMillis(session: SparkSession, e: Expression): Long = {
    val cast = Cast(e, TimestampType, Some(session.sessionState.conf.sessionLocalTimeZone))
    require(cast.foldable, s"TIMESTAMP AS OF expression must be foldable: ${e.sql}")
    cast.eval() match {
      case micros: java.lang.Long => micros / 1000L
      case other => throw new IllegalArgumentException(
        s"TIMESTAMP AS OF did not evaluate to a timestamp: $other")
    }
  }

  /** Translate a WHERE condition's literal conjuncts into manifest
    * prune filters for `table`'s schema. CONSERVATIVE by construction:
    * anything not a bare-column-vs-literal comparison contributes
    * nothing (the file list just stays larger), and the Filter node
    * remains in the plan for exactness. Numeric/date/timestamp columns
    * map to [[RangeNum]] in the stats' units (timestamps: epoch millis,
    * dates: epoch millis at midnight); strings to
    * [[EqString]]/[[RangeString]]/[[InString]]. */
  private[sql] def pruneFiltersFrom(
      cond: Expression, schema: StructType,
      qualifiers: Set[String] = Set.empty): Seq[PruneFilter] = {
    def fieldOf(e: Expression): Option[StructField] = e match {
      // unqualified, or qualified by THIS relation's name/alias — a
      // correlated outer reference (`WHERE outer.x = 5` inside an
      // EXISTS) must NOT translate: it constrains the OUTER row, and
      // pruning the inner table on it would drop matching files
      case a: UnresolvedAttribute
          if a.nameParts.size == 1 ||
            (a.nameParts.size == 2 && qualifiers.contains(a.nameParts.head.toLowerCase)) =>
        schema.fields.find(_.name.equalsIgnoreCase(a.nameParts.last))
      case _ => None
    }
    // literal → the stats domain: strings as-is; numerics as double;
    // timestamp micros → millis; date days → millis
    def strVal(l: Literal): Option[String] = l.value match {
      case s: UTF8String => Some(s.toString)
      case s: String => Some(s)
      case _ => None
    }
    def numVal(l: Literal, dt: DataType): Option[Double] = (l.value, l.dataType, dt) match {
      case (null, _, _) => None
      case (v: java.lang.Number, _: TimestampType, _) => Some(v.longValue / 1000.0)
      // NTZ literals are also epoch micros; stats are millis — without
      // this case the generic branch would compare micros to millis and
      // wrongly prune files that match
      case (v: java.lang.Number, _: TimestampNTZType, _) => Some(v.longValue / 1000.0)
      case (v: java.lang.Number, _: DateType, _) => Some(v.longValue * 86400000.0)
      case (v: java.lang.Number, _, _) => Some(v.doubleValue)
      case (d: Decimal, _, _) => Some(d.toDouble)
      case _ => None
    }
    // numeric/date/timestamp inequality bounds translate to RangeNum
    // (±∞ expressible); string inequalities are deliberately NOT
    // translated — RangeString needs a finite upper bound, and any
    // synthetic "max string" can be exceeded by real data, which would
    // prune a file that matches. String equality/IN stay exact.
    def cmpNum(a: Expression, b: Expression)(
        mk: (String, Double) => PruneFilter): Seq[PruneFilter] =
      (fieldOf(a), b) match {
        case (Some(f), l: Literal) =>
          f.dataType match {
            case _: NumericType | _: TimestampType | _: DateType =>
              numVal(l, f.dataType).map(mk(f.name, _)).toSeq
            case _ => Nil
          }
        case _ => Nil
      }
    def cmpEq(a: Expression, b: Expression): Seq[PruneFilter] =
      (fieldOf(a), b) match {
        case (Some(f), l: Literal) =>
          f.dataType match {
            case _: StringType => strVal(l).map(EqString(f.name, _)).toSeq
            case _: NumericType | _: TimestampType | _: DateType =>
              numVal(l, f.dataType).map(v => RangeNum(f.name, v, v)).toSeq
            case _ => Nil
          }
        case _ => Nil
      }
    cond match {
      case And(l, r) =>
        pruneFiltersFrom(l, schema, qualifiers) ++ pruneFiltersFrom(r, schema, qualifiers)
      case EqualTo(a, b) => cmpEq(a, b) ++ cmpEq(b, a)
      case GreaterThan(a, b) =>
        cmpNum(a, b)((c, v) => RangeNum(c, v, Double.MaxValue)) ++
          cmpNum(b, a)((c, v) => RangeNum(c, Double.MinValue, v))
      case GreaterThanOrEqual(a, b) =>
        cmpNum(a, b)((c, v) => RangeNum(c, v, Double.MaxValue)) ++
          cmpNum(b, a)((c, v) => RangeNum(c, Double.MinValue, v))
      case LessThan(a, b) =>
        cmpNum(a, b)((c, v) => RangeNum(c, Double.MinValue, v)) ++
          cmpNum(b, a)((c, v) => RangeNum(c, v, Double.MaxValue))
      case LessThanOrEqual(a, b) =>
        cmpNum(a, b)((c, v) => RangeNum(c, Double.MinValue, v)) ++
          cmpNum(b, a)((c, v) => RangeNum(c, v, Double.MaxValue))
      case In(a, values) if values.nonEmpty && values.forall(_.isInstanceOf[Literal]) =>
        fieldOf(a) match {
          case Some(f) =>
            val lits = values.map(_.asInstanceOf[Literal])
            f.dataType match {
              case _: StringType =>
                val vs = lits.flatMap(strVal)
                if (vs.size == lits.size) Seq(InString(f.name, vs)) else Nil
              case _: NumericType | _: TimestampType | _: DateType =>
                // an IN-list over numerics prunes as its covering range
                val vs = lits.flatMap(numVal(_, f.dataType))
                if (vs.size == lits.size) Seq(RangeNum(f.name, vs.min, vs.max)) else Nil
              case _ => Nil
            }
          case None => Nil
        }
      case _ => Nil
    }
  }
}

/** Shared resolution mechanics for the two injected rules. */
private[sql] trait GraftResolutionSupport { self: Rule[LogicalPlan] =>
  import GraftSqlResolution._
  def session: SparkSession

  /** Resolve `table`'s head (or `at`, a snapshot already resolved) to
    * the analyzed plan of a pruned catalog read, translating `cond` (the
    * WHERE directly above the relation, when present) into manifest
    * prune filters. */
  protected def readPlan(
      cat: SnapshotCatalog,
      table: String,
      cond: Option[Expression],
      at: Option[graft.meta.SnapshotMeta] = None,
      qualifiers: Set[String] = Set.empty): LogicalPlan = {
    val snap = at.getOrElse(cat.resolveSnapshot(table))
    val filters = cond
      .map(pruneFiltersFrom(_, snap.schema, qualifiers + table.toLowerCase)).getOrElse(Nil)
    cat.readSnapshot(session, snap, filters).queryExecution.analyzed
  }

  /** The snapshot a VERSION/TIMESTAMP AS OF spec denotes: a snapshot id,
    * a tag, a branch's head, or the snapshot current at a time. Throws
    * when the spec names none. */
  protected def snapshotFor(
      cat: SnapshotCatalog,
      table: String,
      ts: Option[Expression],
      ver: Option[String]): graft.meta.SnapshotMeta = (ts, ver) match {
    case (Some(expr), None) =>
      cat.resolveSnapshot(table, asOfTimestampMs = Some(evalAsOfMillis(session, expr)))
    case (None, Some(v)) =>
      v.toLongOption match {
        case Some(id) => cat.resolveSnapshot(table, Some(id))
        case None => cat.snapshotByTag(table, v).getOrElse {
          if (cat.branches(table).contains(v)) cat.resolveSnapshot(cat.branchRef(table, v))
          else throw new IllegalArgumentException(
            s"VERSION AS OF '$v': no snapshot id, tag or branch of that name on $table")
        }
      }
    case _ => throw new IllegalArgumentException(
      "time travel needs exactly one of VERSION AS OF / TIMESTAMP AS OF")
  }

  /** Resolve a time-travel spec against the catalog. */
  protected def timeTravelPlan(
      cat: SnapshotCatalog,
      table: String,
      ts: Option[Expression],
      ver: Option[String],
      cond: Option[Expression],
      qualifiers: Set[String] = Set.empty): LogicalPlan =
    readPlan(cat, table, cond, Some(snapshotFor(cat, table, ts, ver)), qualifiers)
}

/** Resolves `FROM t VERSION/TIMESTAMP AS OF ...` against the snapshot
  * catalog. Injected as a hint-resolution rule (pre-`ResolveRelations`)
  * so the catalog — the component that actually HAS history — wins the
  * name even when a temp view shadows it. A `WHERE` directly above the
  * relation prunes the snapshot's file list (see
  * [[GraftSqlResolution.pruneFiltersFrom]]). */
class GraftTimeTravelRule(val session: SparkSession)
    extends Rule[LogicalPlan] with GraftResolutionSupport {
  import GraftSqlResolution._
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}

  override def apply(plan: LogicalPlan): LogicalPlan = rootOf(session) match {
    case None => plan
    case Some(root) =>
      val cat = catalogFor(root)
      def claimedTT(p: LogicalPlan): Option[(String, Option[Expression], Option[String])] =
        p match {
          case RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
            claimedTable(u.multipartIdentifier, cat).map((_, ts, ver))
          case _ => None
        }
      // `v VERSION AS OF n` on a stored VIEW resolves version n of the
      // DEFINITION (Iceberg view spec's version list); TIMESTAMP AS OF
      // picks the definition in force at that time. Data still reads
      // current table state — a view has no data of its own.
      def viewTT(p: LogicalPlan): Option[LogicalPlan] = p match {
        case RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
          val name = u.multipartIdentifier match {
            case Seq(n) => Some(n)
            case Seq(ns, n) if ns.equalsIgnoreCase("graft") => Some(n)
            case _ => None
          }
          name.filterNot(cat.tables().contains)
            .filter(cat.viewMeta(_).isDefined).map { n =>
              val sqlText = (ts, ver) match {
                case (None, Some(v)) =>
                  val id = v.toLongOption.getOrElse(throw new IllegalArgumentException(
                    s"VERSION AS OF '$v' on view $n: views version by numeric id"))
                  cat.viewSqlAt(n, versionId = Some(id)).getOrElse(
                    throw new IllegalArgumentException(
                      s"VERSION AS OF $id: no such version of view $n"))
                case (Some(expr), None) =>
                  cat.viewSqlAt(n, asOfMs = Some(evalAsOfMillis(session, expr)))
                    .getOrElse(throw new IllegalArgumentException(
                      s"TIMESTAMP AS OF on view $n: no version existed at that time"))
                case _ => throw new IllegalArgumentException(
                  "time travel needs exactly one of VERSION AS OF / TIMESTAMP AS OF")
              }
              SubqueryAlias(n, session.sessionState.sqlParser.parsePlan(sqlText))
            }
        case _ => None
      }
      // a global COUNT over an AS OF relation is exactly as manifest-
      // answerable as the current-snapshot form (S52): the historical
      // snapshot's row totals are immutable facts. Same soundness
      // gates (no deletes at that snapshot, null stats, no
      // WHERE/GROUP BY/HAVING); on any miss the normal substitution
      // below still produces the correct scan.
      val canFoldCounts = !GraftMetaCount.hasPendingHaving(plan)
      def foldTT(child: LogicalPlan,
          projList: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): Option[LogicalPlan] = {
        if (!canFoldCounts) return None
        val unaliased = child match {
          case SubqueryAlias(_, inner) => inner
          case other => other
        }
        claimedTT(unaliased).flatMap { case (t, ts, ver) =>
          GraftMetaCount.fold(session, snapshotFor(cat, t, ts, ver), projList)
        }
      }
      // top-down so the Filter-above-relation shape is seen before the
      // bare relation underneath it
      plan.resolveOperatorsDown {
        case p: Project if foldTT(p.child, p.projectList).isDefined =>
          foldTT(p.child, p.projectList).get
        case a: Aggregate if a.groupingExpressions.isEmpty &&
            foldTT(a.child, a.aggregateExpressions).isDefined =>
          foldTT(a.child, a.aggregateExpressions).get
        case f @ Filter(cond, child) =>
          child match {
            case tt if claimedTT(tt).isDefined =>
              val (t, ts, ver) = claimedTT(tt).get
              f.copy(child = timeTravelPlan(cat, t, ts, ver, Some(cond)))
            case sa @ SubqueryAlias(_, tt) if claimedTT(tt).isDefined =>
              val (t, ts, ver) = claimedTT(tt).get
              f.copy(child = sa.copy(child = timeTravelPlan(cat, t, ts, ver, Some(cond),
                qualifiers = Set(sa.alias.toLowerCase))))
            case _ => f
          }
        case tt if claimedTT(tt).isDefined =>
          val (t, ts, ver) = claimedTT(tt).get
          timeTravelPlan(cat, t, ts, ver, None)
        case tt if viewTT(tt).isDefined => viewTT(tt).get
      }
  }
}

/** Metadata-only aggregate folding shared by [[GraftMetaCountRule]]
  * (current snapshot) and [[GraftTimeTravelRule]] (a historical
  * snapshot — `SELECT COUNT(*) FROM t VERSION AS OF v` is exactly as
  * manifest-answerable as the current-snapshot form, and at 100 TB
  * "how many rows did snapshot v have?" should never open a footer). */
private[sql] object GraftMetaCount {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedFunction, UnresolvedStar}
  import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, NamedExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
  import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
  import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType => IntT, LongType => LongT, StringType => StrT, StructField}
  import org.apache.spark.unsafe.types.UTF8String

  /** A manifest-answerable aggregate over the table. */
  private sealed trait Target
  private case object CountStar extends Target
  private final case class CountCol(col: String) extends Target
  private final case class MinCol(col: String) extends Target
  private final case class MaxCol(col: String) extends Target

  /** Matched in BOTH shapes the rules can encounter: the parser's
    * UnresolvedFunction, and the post-`ResolveFunctions` /
    * `GlobalAggregates` AggregateExpression(Count/Min/Max) — the
    * builtins run earlier in the same resolution-batch iteration, so by
    * the time an extended rule sees a global aggregate it is usually
    * already an `Aggregate` node over the still-unresolved relation. */
  private def target(e: Expression): Option[Target] = e match {
    case uf: UnresolvedFunction if !uf.isDistinct && uf.filter.isEmpty =>
      (uf.nameParts.map(_.toLowerCase), uf.arguments) match {
        case (Seq("count"), Seq(_: UnresolvedStar)) => Some(CountStar)
        case (Seq("count"), Seq(Literal(_, dt))) if dt == IntegerType || dt == LongType =>
          Some(CountStar)
        case (Seq("count"), Seq(a: UnresolvedAttribute)) if a.nameParts.size == 1 =>
          Some(CountCol(a.nameParts.head))
        case (Seq("min"), Seq(a: UnresolvedAttribute)) if a.nameParts.size == 1 =>
          Some(MinCol(a.nameParts.head))
        case (Seq("max"), Seq(a: UnresolvedAttribute)) if a.nameParts.size == 1 =>
          Some(MaxCol(a.nameParts.head))
        case _ => None
      }
    case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(Literal(_, dt))) if dt == IntegerType || dt == LongType =>
          Some(CountStar)
        case Count(Seq(a: UnresolvedAttribute)) if a.nameParts.size == 1 =>
          Some(CountCol(a.nameParts.head))
        case Min(a: UnresolvedAttribute) if a.nameParts.size == 1 =>
          Some(MinCol(a.nameParts.head))
        case Max(a: UnresolvedAttribute) if a.nameParts.size == 1 =>
          Some(MaxCol(a.nameParts.head))
        case _ => None
      }
    case _ => None
  }

  /** Output name + target per projection entry; unaliased `count(col)`
    * / `min(col)` / `max(col)` are skipped (their analyzer-assigned
    * pretty names are not worth reproducing), unaliased `count(*)`
    * keeps the canonical `count(1)`. */
  private def entryOf(e: NamedExpression): Option[(String, Target)] = e match {
    case al: Alias => target(al.child).map(t => al.name -> t)
    case ua: UnresolvedAlias =>
      target(ua.child).collect { case CountStar => "count(1)" -> CountStar }
    case _ => None
  }

  /** Exactly-representable-in-Double window for integer columns: the
    * manifest stores numeric min/max as Double, so a long past 2^53
    * may have been rounded at stats time — never fold it. */
  private val ExactLong = 1L << 53

  /** The folded (type, catalyst value) of MIN/MAX over `files` for
    * field `f`, or None when any file lacks the stat or the type's
    * manifest representation isn't provably exact. Numeric stats live
    * as Double: int/long fold only for integral values inside ±2^53;
    * double folds directly; string stats are stored UNtruncated so
    * they fold verbatim. Timestamp/date/decimal fall through to the
    * scan (their double encoding is not worth re-deriving here). */
  private def foldMinMax(files: Seq[graft.meta.FileMeta], f: StructField,
                         isMin: Boolean): Option[(DataType, Any)] = {
    if (files.isEmpty) return None
    f.dataType match {
      case IntT | LongT | DoubleType =>
        val per = files.map(_.stats.get(f.name).flatMap(s => if (isMin) s.minD else s.maxD))
        if (per.exists(_.isEmpty)) return None
        val v = if (isMin) per.flatten.min else per.flatten.max
        f.dataType match {
          case DoubleType => Some((DoubleType, v))
          case _ if v != math.rint(v) || math.abs(v) >= ExactLong => None
          case IntT => Some((IntT, v.toInt))
          case LongT => Some((LongT, v.toLong))
          case _ => None
        }
      case StrT =>
        val per = files.map(_.stats.get(f.name).flatMap(s => if (isMin) s.minS else s.maxS))
        if (per.exists(_.isEmpty)) return None
        val v = if (isMin) per.flatten.min else per.flatten.max
        Some((StrT, UTF8String.fromString(v)))
      case _ => None
    }
  }

  /** Fold an all-manifest-answerable projection over `snap` to a
    * one-row LocalRelation, or None when the shape/stats don't
    * qualify. */
  def fold(
      session: SparkSession,
      snap: graft.meta.SnapshotMeta,
      projList: Seq[NamedExpression]): Option[LogicalPlan] = {
    if (snap.deleteFiles.nonEmpty || projList.isEmpty) return None
    val entries = projList.map(entryOf)
    if (entries.exists(_.isEmpty)) return None
    val total = snap.totalRows
    // field binding honors the session's case sensitivity: with
    // spark.sql.caseSensitive=true a wrong-cased COUNT(col) must fall
    // through to the scan (where analysis raises column-not-found), and
    // an ambiguous case-differing match must never bind to the wrong
    // field's null stats
    val resolver = session.sessionState.conf.resolver
    def fieldOf(colName: String): Option[StructField] =
      snap.schema.fields.filter(f => resolver(f.name, colName)) match {
        case Array(one) => Some(one)
        case _ => None
      }
    val values: Seq[Option[(String, DataType, Any)]] = entries.flatten.map {
      case (name, CountStar) => Some((name, LongT: DataType, total))
      case (name, CountCol(colName)) =>
        fieldOf(colName).flatMap { f =>
          val nulls = snap.files.map(_.stats.get(f.name).flatMap(_.nullCount))
          if (nulls.exists(_.isEmpty)) None
          else Some((name, LongT: DataType, total - nulls.flatten.sum))
        }
      case (name, MinCol(colName)) =>
        fieldOf(colName).flatMap(f => foldMinMax(snap.files, f, isMin = true))
          .map { case (dt, v) => (name, dt, v) }
      case (name, MaxCol(colName)) =>
        fieldOf(colName).flatMap(f => foldMinMax(snap.files, f, isMin = false))
          .map { case (dt, v) => (name, dt, v) }
    }
    if (values.exists(_.isEmpty)) return None
    val out = values.flatten
    val attrs = out.map { case (n, dt, _) => AttributeReference(n, dt, nullable = false)() }
    Some(LocalRelation(attrs, Seq(InternalRow.fromSeq(out.map(_._3)))))
  }

  /** A HAVING without GROUP BY parses as UnresolvedHaving over a
    * Project/Aggregate; folding the child first would resolve the
    * HAVING's own COUNT(*) against the one-row LocalRelation (count=1)
    * — wrong rows. Any pending HAVING in the tree means the shape is
    * not the plain global-count these rules fold, so leave the whole
    * plan to the scan path (conservative: semantics stay exact there). */
  def hasPendingHaving(plan: LogicalPlan): Boolean = plan.collectFirst {
    case h: org.apache.spark.sql.catalyst.analysis.UnresolvedHaving => h
  }.isDefined
}

/** Metadata-only aggregates (SURVEY §2 S52; the Iceberg/Delta
  * aggregates-from-manifests optimization): a global `SELECT COUNT(*)`
  * / `COUNT(col)` / `MIN(col)` / `MAX(col)` over a catalog table
  * answers from the snapshot's manifest row counts and per-file
  * min/max stats — ZERO data files opened, the plan collapses to a
  * one-row LocalRelation. At 100 TB this turns the most common sanity
  * queries a pipeline runs ("how many rows landed?", "what's the
  * latest timestamp key?") from full-corpus scans into metadata
  * lookups.
  *
  * SOUND BY CONSTRUCTION — the rule fires only when manifest stats
  * are exact answers:
  *  - no outstanding delete files (MoR masks make manifest totals
  *    over-counts and could have masked the extreme row; the scan path
  *    stays correct, so just don't fire);
  *  - `COUNT(col)` additionally needs every file to carry a non-null
  *    count for the column (nullCount stats): count = rows − nulls;
  *  - `MIN/MAX(col)` needs every file to carry the bound, and the
  *    column's manifest encoding must be provably exact: int/long fold
  *    only for integral bounds inside ±2^53 (stats are stored as
  *    Double), double folds directly, strings are stored untruncated
  *    and fold verbatim; timestamp/date/decimal always scan;
  *  - no WHERE (a Filter child breaks the match), no GROUP BY (the
  *    parser emits Aggregate, not Project, for grouped queries), no
  *    DISTINCT / FILTER clause, no expression arguments, no pending
  *    HAVING anywhere in the plan.
  * Injected in the normal resolution batch AFTER builtins — a temp
  * view shadowing the name resolves first and the rule never sees an
  * UnresolvedRelation — and BEFORE [[GraftCatalogRelationRule]], which
  * would otherwise substitute the scan subtree in the same pass. */
class GraftMetaCountRule(val session: SparkSession) extends Rule[LogicalPlan] {
  import GraftSqlResolution._
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}

  override def apply(plan: LogicalPlan): LogicalPlan = rootOf(session) match {
    case None => plan
    case Some(root) if GraftMetaCount.hasPendingHaving(plan) => plan
    case Some(root) =>
      val cat = catalogFor(root)
      def claimed(p: LogicalPlan): Option[String] = p match {
        case u: UnresolvedRelation => claimedTable(u.multipartIdentifier, cat)
        case SubqueryAlias(_, u: UnresolvedRelation) => claimedTable(u.multipartIdentifier, cat)
        case _ => None
      }
      def fold(table: String, projList: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]) =
        cat.currentSnapshot(table).flatMap(GraftMetaCount.fold(session, _, projList))
      plan.resolveOperatorsDown {
        case p: Project if claimed(p.child).isDefined =>
          fold(claimed(p.child).get, p.projectList).getOrElse(p)
        case a: Aggregate if a.groupingExpressions.isEmpty && claimed(a.child).isDefined =>
          fold(claimed(a.child).get, a.aggregateExpressions).getOrElse(a)
      }
  }
}

/** Plain-name fallback: `FROM t` (or `FROM graft.t`) resolves to the
  * catalog's CURRENT snapshot when nothing else claimed the name —
  * injected in the normal resolution batch, so builtin temp-view /
  * session-catalog resolution has already had its chance. A `WHERE`
  * directly above the relation prunes the file list from manifest
  * stats/blooms before the scan is planned. */
class GraftCatalogRelationRule(val session: SparkSession)
    extends Rule[LogicalPlan] with GraftResolutionSupport {
  import GraftSqlResolution._

  override def apply(plan: LogicalPlan): LogicalPlan = rootOf(session) match {
    case None => plan
    case Some(root) =>
      val cat = catalogFor(root)
      def claimed(p: LogicalPlan): Option[String] = p match {
        case u: UnresolvedRelation => claimedTable(u.multipartIdentifier, cat)
        case _ => None
      }
      // Iceberg-style metadata tables from pure SQL: `t__snapshots` /
      // `t__files` resolve to the catalog's metadata frames when the
      // BASE table exists (metadata-sized — one row per snapshot/file,
      // never data-sized; the same frames QueryEngine registers as
      // views, reachable without any code access)
      def metaPlan(p: LogicalPlan): Option[LogicalPlan] = p match {
        case u: UnresolvedRelation => u.multipartIdentifier match {
          case Seq(n) =>
            // longest suffix first: when two suffixes could both strip to
            // an existing base table, the longer (more specific) one wins —
            // resolution never depends on list order
            val frames: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
              "__delete_files" -> (cat.deleteFilesDf(session, _)),
              "__partitions" -> (cat.partitionsDf(session, _)),
              "__snapshots" -> (cat.snapshotsDf(session, _)),
              // a materialized aggregate view SERVED RENDERED (S39): the
              // derived aggregates arrive computed — avg_c as a double,
              // approx_nd_c as the sketch's estimate — so a SQL-only
              // consumer never touches raw (sum, cnt, BINARY sketch)
              // state columns. On a non-MV base this refuses loudly
              // ("not a materialized aggregate view") at analysis.
              "__rendered" ->
                (t => graft.sinks.MaterializedAgg.readRendered(session, cat, t)),
              "__files" -> (cat.filesDf(session, _)))
            frames.collectFirst {
              case (suffix, df) if n.endsWith(suffix) &&
                  cat.tables().contains(n.stripSuffix(suffix)) =>
                df(n.stripSuffix(suffix)).queryExecution.analyzed
            }
          case _ => None
        }
        case _ => None
      }
      // stored SQL views (S62): a name that is NOT a table but IS in the
      // view store expands to its CURRENT definition's parsed plan under
      // a SubqueryAlias — inner relations (tables, other views, branch
      // refs, time travel) resolve through these same rules on the next
      // analyzer pass. Terminates because createView enforces an acyclic
      // view-reference graph at DDL time.
      def viewPlan(p: LogicalPlan): Option[LogicalPlan] = p match {
        case u: UnresolvedRelation =>
          val name = u.multipartIdentifier match {
            case Seq(n) => Some(n)
            case Seq(ns, n) if ns.equalsIgnoreCase("graft") => Some(n)
            case _ => None
          }
          name.filterNot(n => cat.tables().contains(n)).flatMap { n =>
            cat.viewSql(n).map(sql => SubqueryAlias(n,
              session.sessionState.sqlParser.parsePlan(sql)))
          }
        case _ => None
      }
      plan.resolveOperatorsDown {
        case f @ Filter(cond, child) =>
          child match {
            case u if claimed(u).isDefined =>
              f.copy(child = readPlan(cat, claimed(u).get, Some(cond)))
            case sa @ SubqueryAlias(_, u) if claimed(u).isDefined =>
              f.copy(child = sa.copy(child = readPlan(cat, claimed(u).get, Some(cond),
                qualifiers = Set(sa.alias.toLowerCase))))
            case _ => f
          }
        case u if claimed(u).isDefined =>
          readPlan(cat, claimed(u).get, None)
        case u: UnresolvedRelation =>
          // evaluate once: build-and-bind, no guard/extract double pass
          viewPlan(u).orElse(metaPlan(u)).getOrElse(u)
      }
  }
}
