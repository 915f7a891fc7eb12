package graft.plans

import graft.model.TableSchema
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
import org.apache.spark.sql.types._

/** KEY/HASH partition bucketing (reference: PARTITION BY KEY/HASH/RANDOM,
  * query_frontend/src/ast.rs:91-100; hash64 % n at
  * table_engine/src/partition/rule/key.rs:367-372). Buckets are directory
  * partitions `__bucket=<k>`; the bucket id is `pmod(xxhash64(keys), n)` —
  * same stable-hash-mod-n semantics as the reference with Spark's codegen'd
  * hash. The key list and n ride on the __bucket field metadata so the
  * pruning rule can recompute bucket ids from filter literals at plan time.
  */
object Partitioning {
  val MetaKeys = "graft.bucket.keys"
  val MetaN = "graft.bucket.n"

  /** The __bucket partition-directory StructField. Spark re-derives
    * partition-column fields from directory inference and drops their
    * metadata, so the partition spec is carried on a DATA column instead —
    * see [[annotateKeys]]. */
  def bucketField: StructField =
    StructField(TableSchema.BucketColumn, IntegerType, nullable = true)

  /** Attach (keys, n) to the first key column's metadata (data-column
    * metadata survives into relation attributes; partition-column metadata
    * does not). */
  def annotateKeys(schema: StructType, keys: Seq[String], n: Int): StructType =
    StructType(schema.map { f =>
      if (f.name == keys.head)
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putStringArray(MetaKeys, keys.toArray)
          .putLong(MetaN, n.toLong)
          .build())
      else f
    })

  /** Write-side bucket id column over the key columns. */
  def bucketColumn(keys: Seq[Column], n: Int): Column =
    pmod(xxhash64(keys: _*), lit(n.toLong)).cast(IntegerType)

  /** Plan-time bucket id for one combination of key literals (must mirror
    * [[bucketColumn]] exactly: XxHash64 seed 42, pmod). */
  def bucketOf(keyLiterals: Seq[Literal], n: Int): Int = {
    val h = XxHash64(keyLiterals, 42L).eval(null).asInstanceOf[Long]
    (((h % n) + n) % n).toInt
  }
}

/** Time-range extraction through the TIMESTAMP(NANOS) bridge — the
  * reference's `PredicateBuilder.extract_time_range`
  * (table_engine/src/predicate.rs:161-206) equivalent for our nanos tables:
  * fixtures with parquet TIMESTAMP(NANOS) are read as raw long and converted
  * with `timestamp_micros(ns div 1000)`, which blocks parquet predicate
  * pushdown (the comparison wraps the column in expressions). The
  * conversion is monotone, so comparisons against literals rewrite exactly
  * onto the raw nanos column (floor-division algebra below), which parquet
  * row-group stats can prune. The rewritten conjunct REPLACES the original
  * (the bounds are exact, not approximations).
  */
object NanosTimeRangePushdown extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val bounds = conjuncts.flatMap(boundFor)
        .filterNot(b => conjuncts.exists(_.semanticEquals(b)))
      if (bounds.isEmpty) f
      else Filter((conjuncts ++ bounds).reduce(And), child)
  }

  private final val SlopMicros = 1000000L // 1 ms of nanos

  /** The ORIGINAL conjunct stays for exactness; the derived bound on the
    * raw column is loose by 1 ms either way — sound regardless of how the
    * engine's `div` rounds negative (pre-epoch) nanos, and tight enough for
    * parquet row-group stats. semanticEquals dedup keeps the rule
    * idempotent across fixed-point passes. */
  private def boundFor(e: Expression): Option[Expression] = e match {
    case GreaterThanOrEqual(NsToTs(ns), TsLit(us)) => Some(lowerBound(ns, us))
    case GreaterThan(NsToTs(ns), TsLit(us))        => Some(lowerBound(ns, us))
    case LessThan(NsToTs(ns), TsLit(us))           => Some(upperBound(ns, us))
    case LessThanOrEqual(NsToTs(ns), TsLit(us))    => Some(upperBound(ns, us))
    case LessThanOrEqual(TsLit(us), NsToTs(ns))    => Some(lowerBound(ns, us))
    case LessThan(TsLit(us), NsToTs(ns))           => Some(lowerBound(ns, us))
    case GreaterThan(TsLit(us), NsToTs(ns))        => Some(upperBound(ns, us))
    case GreaterThanOrEqual(TsLit(us), NsToTs(ns)) => Some(upperBound(ns, us))
    case _ => None
  }

  private def lowerBound(ns: Expression, us: Long): Expression =
    GreaterThan(ns, Literal(us * 1000 - SlopMicros, LongType))
  private def upperBound(ns: Expression, us: Long): Expression =
    LessThan(ns, Literal(us * 1000 + SlopMicros, LongType))

  /** timestamp_micros(attr div 1000) over a long column. */
  private object NsToTs {
    def unapply(e: Expression): Option[Expression] = e match {
      case MicrosToTimestamp(IntegralDivide(ns, d, _))
          if ns.dataType == LongType && d.foldable &&
             String.valueOf(d.eval(null)) == "1000" => Some(ns)
      case _ => None
    }
  }

  private object TsLit {
    /** Any foldable timestamp expression (literal, cast, timestamp_millis…). */
    def unapply(e: Expression): Option[Long] = e match {
      case _ if e.foldable && e.dataType == TimestampType =>
        Option(e.eval(null)).map(_.asInstanceOf[Long])
      case _ => None
    }
  }
}

/** Pushes series-constant filter conjuncts below the engine's dedup-on-read
  * window. The window is the read's fallback: a read of a compacted table,
  * with or without buffered rows, plans none (`TsdbEngine.read`), so this
  * rule serves only reads after a flush or a direct Parquet append since
  * the last compaction, snapshot reads and the compaction rewrite. This is
  * the reference's Exact/Inexact pushdown contract
  * (table_engine/src/provider.rs:335-351): filters on tag columns are exact
  * below the merge-dedup because every row of a series shares its tag
  * values (tsid is a function of all tags), so dropping a series before
  * dedup equals dropping it after. Field (non-tag) filters stay above the
  * window ("Inexact": they could change which row of a PK group survives).
  * Catalyst's own PushDownPredicates only moves window-partition-key
  * filters; this rule adds the tag case Catalyst cannot know about.
  *
  * Tag filters are only Exact when the table uses the IMPLICIT tsid PK:
  * tsid is a function of all tag values, so a PK group is tag-constant.
  * With an explicit PRIMARY KEY that omits a tag column, rows of one PK
  * group can carry different tag values and pre-dedup filtering could
  * change which row survives — the reference gates the same way
  * (analytic_engine/src/table/mod.rs:428 support_pushdown +
  * common_types/src/schema.rs:893 is_unique_column, the issue-605 fix).
  * The implicit PK is detected by the window partitioning on the tsid
  * column; otherwise only partition-key filters push.
  */
object DedupTagPushdown extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, w: Window) if isDedupWindow(w) =>
      val partitionAttrs = AttributeSet(
        w.partitionSpec.flatMap(_.references))
      val tsidPk = partitionAttrs.exists(_.name == TableSchema.TsidColumn)
      def pushable(e: Expression): Boolean =
        e.deterministic && e.references.nonEmpty &&
        e.references.forall {
          case a: Attribute =>
            partitionAttrs.contains(a) ||
            (tsidPk &&
              a.metadata.contains("graft.tag") && a.metadata.getBoolean("graft.tag"))
          case _ => false
        }
      val (push, keep) = splitConjunctivePredicates(cond).partition(pushable)
      if (push.isEmpty) f
      else {
        val newWindow = w.copy(child = pushThrough(w.child, push.reduce(And)))
        if (keep.isEmpty) newWindow else Filter(keep.reduce(And), newWindow)
      }
  }

  /** Slide the predicate down to the scan through the shapes between the
    * dedup window and its relation: projections (refs permitting), the
    * WindowGroupLimit Spark inserts for rank-limit filters (safe for
    * series-constant predicates: they drop whole (tsid, ts) partitions, so
    * per-partition top-k is unchanged), and the union of a table's files
    * with its write buffer (into each side, attributes mapped by
    * position), so the file scan keeps its pushed-down filter. */
  private def pushThrough(node: LogicalPlan, pred: Expression): LogicalPlan =
    node match {
      case p: Project if pred.references.subsetOf(p.child.outputSet) =>
        p.copy(child = pushThrough(p.child, pred))
      case wgl: WindowGroupLimit =>
        wgl.copy(child = pushThrough(wgl.child, pred))
      case u: Union if !u.byName && !u.allowMissingCol =>
        u.withNewChildren(u.children.map { c =>
          val toChild = AttributeMap(u.output.zip(c.output))
          pushThrough(c, pred.transform {
            case a: Attribute if toChild.contains(a) => toChild(a)
          })
        })
      case other => Filter(pred, other)
    }

  private def isDedupWindow(w: Window): Boolean =
    w.orderSpec.exists(_.references.exists(_.name == TableSchema.SeqColumn))
}

/** Maps Eq/In filters on ALL partition-key columns to a `__bucket IN (...)`
  * predicate so Catalyst's partition pruning skips non-candidate bucket
  * directories — the reference's `locate_partitions_for_read`
  * (table_engine/src/partition/rule/key.rs:192-229): expand Eq/In key
  * groups, intersect, fall back to all partitions when any key lacks a
  * prunable filter.
  */
object BucketPruning extends Rule[LogicalPlan] with PredicateHelper {

  private val MaxCombos = 256

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LeafNode)
        if rel.output.exists(_.name == TableSchema.BucketColumn) &&
           rel.output.exists(_.metadata.contains(Partitioning.MetaKeys)) =>
      val bucketAttr = rel.output.find(_.name == TableSchema.BucketColumn).get
      val specAttr = rel.output.find(_.metadata.contains(Partitioning.MetaKeys)).get
      if (cond.references.contains(bucketAttr)) f
      else {
        val keys = specAttr.metadata.getStringArray(Partitioning.MetaKeys).toSeq
        val n = specAttr.metadata.getLong(Partitioning.MetaN).toInt
        candidateBuckets(splitConjunctivePredicates(cond), keys, n, rel) match {
          case Some(buckets) =>
            Filter(And(cond,
              In(bucketAttr, buckets.map(b => Literal(b, IntegerType)))), rel)
          case None => f
        }
      }
  }

  /** Eq/In literal candidates per key column; None ⇒ not prunable. */
  private def candidateBuckets(
      conjuncts: Seq[Expression], keys: Seq[String], n: Int,
      rel: LogicalPlan): Option[Seq[Int]] = {
    val perKey: Map[String, Seq[Literal]] = conjuncts.flatMap {
      case EqualTo(a: Attribute, l: Literal) if keys.contains(a.name) =>
        Seq(a.name -> Seq(Literal.create(l.value, a.dataType)))
      case EqualTo(l: Literal, a: Attribute) if keys.contains(a.name) =>
        Seq(a.name -> Seq(Literal.create(l.value, a.dataType)))
      case In(a: Attribute, vs) if keys.contains(a.name) &&
          vs.forall(_.isInstanceOf[Literal]) =>
        Seq(a.name -> vs.map(v => Literal.create(
          v.asInstanceOf[Literal].value, a.dataType)))
      case _ => Nil
    }.groupBy(_._1)
      // multiple conjuncts on one key: intersect candidate sets
      .map { case (k, vs) => k -> vs.map(_._2.toSet).reduce(_ intersect _).toSeq }

    if (!keys.forall(perKey.contains)) return None
    val lists = keys.map(perKey)
    if (lists.map(_.size.toLong).product > MaxCombos) return None
    val combos = lists.foldLeft(Seq(Seq.empty[Literal])) { (acc, vs) =>
      for (c <- acc; v <- vs) yield c :+ v
    }
    Some(combos.map(Partitioning.bucketOf(_, n)).distinct)
  }
}
