package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType

import graft.bitemporal.MvState

/** Bucket-dir pruning for matview state scans — a custom optimizer rule
  * (injected via [[graft.GraftExtensions]]) that closes the gap Catalyst
  * cannot see: matview state is laid out as `_bucket=<hash(group key)>`
  * partition dirs, so an equality predicate on the FULL group key
  * determines the one partition holding the group — but only the
  * engine knows the hash. Catalyst pushes `g = 'x'` to the parquet scan
  * as a data filter (row-group stats prune WITHIN files, helped by the
  * r13 within-bucket sort); this rule adds the conjunct
  * `_bucket = pmod(xxhash64(key-from-literals), n)`, which
  * FileSourceStrategy classifies as a PARTITION filter — a point read
  * of one group over a billion-group view lists and opens ONE bucket
  * dir out of `nBuckets`, not all of them.
  *
  * Soundness:
  *   - the formula is rebuilt from the same constants the write side
  *     uses ([[MvState.bucketCol]]'s marker/separator — shared vals, so
  *     the two can never drift), over the predicate's foldable
  *     literals; constant folding turns it into `_bucket = <long>`;
  *   - fires only when EVERY group column (read from the
  *     [[MvState.GroupsKey]] schema metadata the state sidecar carries)
  *     has an equality-to-foldable conjunct — the hash covers the whole
  *     key, partial keys cannot prune;
  *   - TIMESTAMP-typed group keys are skipped: their hash goes through
  *     a session-timezone-dependent string cast, and the reading
  *     session's zone may differ from the writing one's (the `_tz` pin
  *     guards refreshes, not reads);
  *   - `g = lit` never matches a NULL group, and a non-null literal
  *     never hashes to the null marker — the pruned bucket is exactly
  *     the group's;
  *   - state written before r13 carries no metadata — the rule no-ops
  *     (back-compat by construction).
  */
object MvBucketPrune extends Rule[LogicalPlan] with PredicateHelper {

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation)
        if rel.output.exists(_.metadata.contains(MvState.BucketsKey)) =>
      prune(cond, rel)
        .map(extra => Filter(And(cond, extra), rel))
        .getOrElse(f)
  }

  private def prune(cond: Expression,
                    rel: LogicalRelation): Option[Expression] = {
    val tagged = rel.output.find(_.metadata.contains(MvState.BucketsKey)).get
    val n = tagged.metadata.getLong(MvState.BucketsKey)
    val groups =
      tagged.metadata.getString(MvState.GroupsKey).split(MvState.GroupKeySep.charAt(0)).toSeq
    val bucketAttr = rel.output.find(_.name == "_bucket")
      .getOrElse(return None)
    val conjuncts = splitConjunctivePredicates(cond)
    // idempotence under the fixed-point optimizer batch: once any
    // conjunct constrains _bucket, this scan is already pruned
    if (conjuncts.exists(_.references.exists(_.name == "_bucket")))
      return None
    // layout = range: the partition value IS the leading group column's
    // value (string), so predicates on it — equalities AND ranges —
    // mirror straight onto `_bucket` with no hashing
    if (tagged.metadata.contains(MvState.LayoutKey) &&
        tagged.metadata.getString(MvState.LayoutKey) == "range")
      return pruneRange(conjuncts, rel, groups.head, bucketAttr)
    val groupAttrs = groups.map(g =>
      rel.output.find(_.name == g).getOrElse(return None))
    // TIMESTAMP (zone-carrying): the hash casts through the session
    // timezone, and the reading session may differ from the writing
    // one — never prunable. TIMESTAMP_NTZ is a zone-FREE wall clock
    // whose string cast is session-independent, so it prunes like any
    // other key. float/double: SQL equality says -0.0 = 0.0 (and
    // grouping normalizes to 0.0), but their STRING forms differ — a
    // `g = -0.0` literal would hash to the wrong bucket and silently
    // drop the matching group.
    if (groupAttrs.exists(a =>
        a.dataType == org.apache.spark.sql.types.TimestampType ||
        a.dataType == org.apache.spark.sql.types.FloatType ||
        a.dataType == org.apache.spark.sql.types.DoubleType))
      return None
    // per group column: the CANDIDATE key values a matching row can
    // hold — one for `g = lit`, a few for `g IN (lits)`. The hash
    // covers the whole key, so the scan's possible buckets are the
    // hashes of the cross product; bounded so a pathological IN-list
    // never explodes the conjunct (past the cap the data filter alone
    // is the plan, exactly as before the rule).
    val byName: Map[String, Seq[Expression]] = conjuncts.flatMap {
      case EqualTo(a: AttributeReference, v)
          if v.foldable && groups.contains(a.name) => Some(a.name -> Seq(v))
      case EqualTo(v, a: AttributeReference)
          if v.foldable && groups.contains(a.name) => Some(a.name -> Seq(v))
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.foldable) &&
            groups.contains(a.name) => Some(a.name -> vs)
      // Catalyst's OptimizeIn rewrites IN-lists past
      // spark.sql.optimizer.inSetConversionThreshold (default 10) to
      // InSet BEFORE this rule runs — without this case, 11..64-value
      // lists would silently never prune. The set holds INTERNAL
      // values (UTF8String, Decimal, …), which Literal(v, dt) carries
      // as-is; a null member adds the null-group bucket as a harmless
      // extra candidate (superset pruning stays sound).
      case InSet(a: AttributeReference, vs)
          if vs.nonEmpty && groups.contains(a.name) =>
        Some(a.name -> vs.toSeq.map(v => Literal(v, a.dataType): Expression))
      case _ => None
    }.toMap
    if (!groups.forall(byName.contains)) return None
    val combos = byName.values.map(_.size.toLong).product
    if (combos > MaxBucketCombos) return None
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    def keyOf(vals: Seq[Expression]): Expression = {
      val parts = vals.map(v => Coalesce(Seq(
        Cast(v, StringType, tz), Literal(MvState.NullGroupMarker))))
      if (parts.size == 1) parts.head
      else ConcatWs(Literal(MvState.GroupKeySep) +: parts)
    }
    val keyCombos = groups.foldLeft(Seq(Seq.empty[Expression])) {
      (acc, g) => acc.flatMap(prefix => byName(g).map(prefix :+ _))
    }
    val buckets = keyCombos.map(vals =>
      Pmod(new XxHash64(Seq(keyOf(vals)), 42L), Literal(n)): Expression)
    Some(
      if (buckets.size == 1) EqualTo(bucketAttr, buckets.head)
      else In(bucketAttr, buckets))
  }

  /** Cap on the IN-list cross product the rule will expand into bucket
    * hashes — past it the plan keeps the plain data filter (correct,
    * just unpruned) instead of growing an enormous partition
    * predicate. */
  private val MaxBucketCombos = 64L

  /** `layout = range` translation: the state dir name is the LEADING
    * group column's value under [[MvState.RangeValuePrefix]] (string —
    * enforced at write; the prefix keeps an empty-string key out of
    * Spark's __HIVE_DEFAULT_PARTITION__ null dir and pins the null
    * marker BELOW every real key), so any foldable equality/IN/range
    * conjunct on that column mirrors onto `_bucket` with the same
    * prefix applied to the literal — lexicographic dir comparison
    * equals the source comparison under a shared prefix. Soundness of
    * the mirror is superset-style: a non-null `g` row lives in exactly
    * the `_bucket = prefix+g` dir, so a dir filter derived from a `g`
    * predicate can only drop dirs with no matching rows (the
    * null-marker dir, below every prefixed key, is excluded by `>=`
    * bounds and included by `<=` bounds — harmless either way, its
    * rows never match the data filter). */
  private def pruneRange(conjuncts: Seq[Expression], rel: LogicalRelation,
                         leadGroup: String,
                         bucketAttr: Attribute): Option[Expression] = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType}
    def onLead(a: AttributeReference): Boolean =
      a.name == leadGroup &&
        (a.dataType == StringType || a.dataType == DateType ||
          a.dataType == TimestampNTZType)
    // DATE / TIMESTAMP_NTZ leading keys: the write side stores
    // Cast(key, string) — the timezone-free ISO form — so the mirror
    // rebuilds the same cast over the predicate literal (NTZ is a
    // zone-free wall clock; zone-carrying TIMESTAMP never reaches here,
    // checkRangeKey refuses it at write). ISO order equals temporal
    // order only for 4-digit years; the write side REFUSES out-of-range
    // values, so every existing dir obeys the contract, but a predicate
    // LITERAL outside years 0001-9999 would still translate to a
    // misordered bound (`m <= date'10000-01-01'` must not drop the
    // 2024 dirs) — such literals simply skip translation (unpruned is
    // always sound).
    val minDay = java.time.LocalDate.of(1, 1, 1).toEpochDay
    val maxDay = java.time.LocalDate.of(9999, 12, 31).toEpochDay
    val minMicros = java.time.LocalDateTime.of(1, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val maxMicros = java.time.LocalDateTime.of(9999, 12, 31, 23, 59, 59)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 999999L
    def safeLit(a: AttributeReference, v: Expression): Boolean =
      a.dataType match {
        case DateType => v.eval() match {
          case d: Int => d >= minDay && d <= maxDay
          case _ => false // null or unexpected internal type
        }
        case TimestampNTZType => v.eval() match {
          case m: Long => m >= minMicros && m <= maxMicros
          case _ => false
        }
        case _ => true
      }
    def pfx(v: Expression): Expression = {
      val s = if (v.dataType == StringType) v
        else Cast(v, StringType, Some(SQLConf.get.sessionLocalTimeZone))
      Concat(Seq(Literal(MvState.RangeValuePrefix), s))
    }
    val translated: Seq[Expression] = conjuncts.flatMap {
      case EqualTo(a: AttributeReference, v) if v.foldable && onLead(a) =>
        Some(EqualTo(bucketAttr, pfx(v)))
      case EqualTo(v, a: AttributeReference) if v.foldable && onLead(a) =>
        Some(EqualTo(bucketAttr, pfx(v)))
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.foldable) && onLead(a) =>
        Some(In(bucketAttr, vs.map(pfx)))
      case InSet(a: AttributeReference, vs) if vs.nonEmpty && onLead(a) =>
        Some(In(bucketAttr,
          vs.toSeq.map(v => pfx(Literal(v, a.dataType)))))
      case GreaterThan(a: AttributeReference, v)
          if v.foldable && onLead(a) && safeLit(a, v) =>
        Some(GreaterThan(bucketAttr, pfx(v)))
      case GreaterThan(v, a: AttributeReference)
          if v.foldable && onLead(a) && safeLit(a, v) =>
        Some(LessThan(bucketAttr, pfx(v)))
      case GreaterThanOrEqual(a: AttributeReference, v)
          if v.foldable && onLead(a) && safeLit(a, v) =>
        Some(GreaterThanOrEqual(bucketAttr, pfx(v)))
      case GreaterThanOrEqual(v, a: AttributeReference)
          if v.foldable && onLead(a) && safeLit(a, v) =>
        Some(LessThanOrEqual(bucketAttr, pfx(v)))
      case LessThan(a: AttributeReference, v)
          if v.foldable && onLead(a) && safeLit(a, v) =>
        Some(LessThan(bucketAttr, pfx(v)))
      case LessThan(v, a: AttributeReference)
          if v.foldable && onLead(a) && safeLit(a, v) =>
        Some(GreaterThan(bucketAttr, pfx(v)))
      case LessThanOrEqual(a: AttributeReference, v)
          if v.foldable && onLead(a) && safeLit(a, v) =>
        Some(LessThanOrEqual(bucketAttr, pfx(v)))
      case LessThanOrEqual(v, a: AttributeReference)
          if v.foldable && onLead(a) && safeLit(a, v) =>
        Some(GreaterThanOrEqual(bucketAttr, pfx(v)))
      case _ => None
    }
    translated.reduceOption(And)
  }
}
