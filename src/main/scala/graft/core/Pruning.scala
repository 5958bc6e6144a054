package graft.core

import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Or => COr, _}
import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one answer to "which live files can hold a row matching this
  * predicate", for every graft scan: the catalog's COW and MOR scans,
  * statically and at runtime, and `GraftTable.readWhereBetween` /
  * `readWhereIn`. Pruning is conservative-only: an unknown predicate
  * shape, an unrenderable literal or a missing stat keeps the file.
  *
  * One leaf rule decides whether file `f` can hold a row where
  * `attr ∈ values` or `attr ∈ [lo, hi]`:
  *  - the partition column: `f`'s partition value must be one of the
  *    values (a range prunes it by stats, like any column);
  *  - the record key: `f`'s bucket must be the routing bucket
  *    `pmod(xxhash64(v, 42), numBuckets)` of a value of the key's type
  *    — the write path puts every key in exactly one (partition,
  *    bucket) file group, the Hudi record-index role at zero index cost
  *    (spark/conf/hudi-defaults.conf:25). Bootstrap-adopted files
  *    (bucket [[GraftTable.BootstrapBucket]]) hold unrouted keys and
  *    skip that check. The key's min/max is checked either way;
  *  - any other column: its commit-log min/max ([[StatsPruner]]).
  * Pushed Catalyst filters ([[pushed]]) and V2 runtime `=`/`IN`
  * predicates ([[runtime]]) reduce to it, and [[Pruning.select]] turns
  * a file test into the files a scan plans. */
final case class Pruning(schema: StructType, partitionField: Option[String],
    keyField: String, numBuckets: Int) {
  import Pruning._

  private def dtOf(attr: String): Option[DataType] =
    schema.fields.find(_.name == attr).map(_.dataType)
  private lazy val keyDt = dtOf(keyField)

  private def bucketOf(v: Any): Int = Pruning.bucketOf(v, keyDt.get, numBuckets)

  /** A Catalyst/V2 literal of type `dt` compared with `attr`. */
  private def typed(attr: String, v: Any, dt: DataType): Lit =
    Lit(render(v, dt),
      if (attr == keyField && v != null && numBuckets > 0 && keyDt.contains(dt))
        Some(bucketOf(v))
      else None)

  /** A literal already in the stats rendering (the `readWhere*` API);
    * routable when it reads back as exactly that key value. */
  private def rendered(attr: String, s: String): Lit = {
    val v: Option[Any] =
      if (attr != keyField || numBuckets <= 0) None
      else keyDt.collect {
        case StringType => Some(UTF8String.fromString(s))
        case LongType => s.toLongOption.filter(_.toString == s)
        case IntegerType => s.toIntOption.filter(_.toString == s)
      }.flatten
    Lit(Some(s), v.map(bucketOf))
  }

  private def statOf(f: DataFileMeta, attr: String): Option[ColStat] =
    f.stats.get(attr).orElse(
      if (attr == keyField) Some(ColStat(f.minKey, f.maxKey, 0L)) else None)

  /** Leaf rule, point set: may `f` hold a row with `attr` in `lits`? */
  private def in(attr: String, lits: Seq[Lit]): FileTest = {
    val dt = dtOf(attr)
    if (dt.isEmpty || lits.exists(_.str.isEmpty)) return KeepAll
    def sorted(ls: Seq[Lit]): Array[String] =
      ls.flatMap(_.str).distinct.sortWith(StatsPruner.compare(dt.get, _, _) < 0).toArray
    if (partitionField.contains(attr)) {
      val parts = lits.flatMap(_.str).toSet
      return f => parts.contains(f.partition)
    }
    // each value only where it can live: its own bucket, or a bootstrap
    // file; a value of another type than the key's goes everywhere
    val all = sorted(lits)
    val (routed, unrouted) = lits.partition(_.bucket.isDefined)
    val byBucket = routed.groupBy(_.bucket.get).map { case (b, ls) =>
      b -> sorted(ls ++ unrouted) }
    val elsewhere = sorted(unrouted)
    f => {
      val cands = if (f.bucket < 0) all else byBucket.getOrElse(f.bucket, elsewhere)
      cands.nonEmpty && StatsPruner.mayContainAny(dt.get, statOf(f, attr), cands)
    }
  }

  /** Leaf rule, range: may `f` hold a row with `attr` in [lo, hi]?
    * Bounds in the stats rendering, None = open. */
  def between(attr: String, lo: Option[String], hi: Option[String]): FileTest =
    dtOf(attr) match {
      case Some(dt) if lo.isDefined || hi.isDefined =>
        f => StatsPruner.mayContain(dt, statOf(f, attr), lo, hi)
      case _ => KeepAll
    }

  /** Pushed Catalyst filters (a conjunction) as a file test. */
  def pushed(filters: Seq[Expression]): FileTest = allOf(filters.map(catalyst))

  private def catalyst(e: Expression): FileTest = e match {
    case CAnd(l, r) => allOf(Seq(catalyst(l), catalyst(r)))
    case COr(l, r) => val (a, b) = (catalyst(l), catalyst(r)); f => a(f) || b(f)
    case EqualTo(a: AttributeReference, Literal(v, dt)) => in(a.name, Seq(typed(a.name, v, dt)))
    case EqualTo(Literal(v, dt), a: AttributeReference) => in(a.name, Seq(typed(a.name, v, dt)))
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      in(a.name, vs.map { case Literal(v, dt) => typed(a.name, v, dt) })
    case InSet(a: AttributeReference, vs) =>
      in(a.name, vs.toSeq.map(typed(a.name, _, a.dataType)))
    case GreaterThan(a: AttributeReference, l: Literal) => atLeast(a, l)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) => atLeast(a, l)
    case LessThan(l: Literal, a: AttributeReference) => atLeast(a, l)
    case LessThanOrEqual(l: Literal, a: AttributeReference) => atLeast(a, l)
    case LessThan(a: AttributeReference, l: Literal) => atMost(a, l)
    case LessThanOrEqual(a: AttributeReference, l: Literal) => atMost(a, l)
    case GreaterThan(l: Literal, a: AttributeReference) => atMost(a, l)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) => atMost(a, l)
    case _ => KeepAll
  }

  private def atLeast(a: AttributeReference, l: Literal): FileTest =
    between(a.name, render(l.value, l.dataType), None)
  private def atMost(a: AttributeReference, l: Literal): FileTest =
    between(a.name, None, render(l.value, l.dataType))

  /** V2 runtime predicates (a selective join's build-side values) as a
    * file test: `=` and `IN` over one column; anything else keeps all. */
  def runtime(predicates: Seq[V2Predicate]): FileTest = allOf(predicates.map(v2))

  private def v2(p: V2Predicate): FileTest = {
    val children = p.children()
    if ((p.name() != "IN" && p.name() != "=") || children.isEmpty) return KeepAll
    (children.head, children.tail) match {
      case (r: NamedReference, vs) if vs.forall(_.isInstanceOf[V2Literal[_]]) =>
        val attr = r.fieldNames.mkString(".")
        in(attr, vs.toSeq.map { case l: V2Literal[_] => typed(attr, l.value, l.dataType) })
      case _ => KeepAll
    }
  }

  /** The columns a runtime filter can prune on — partition, key and
    * stats columns — that the scan `output` carries: Spark resolves
    * them against it and fails the query on a miss. */
  def filterAttributes(files: Seq[DataFileMeta], output: StructType): Array[NamedReference] =
    (partitionField.toSeq ++ Seq(keyField) ++ files.flatMap(_.stats.keys)).distinct
      .filter(output.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  /** `attr ∈ values`, values in the stats rendering. */
  def valuesIn(attr: String, values: Seq[String]): FileTest =
    in(attr, values.map(rendered(attr, _)))
}

object Pruning {

  type FileTest = DataFileMeta => Boolean

  /** One literal as the leaf rule sees it: its stats rendering (None =
    * not comparable) and its routing bucket (None = not routable). */
  private final case class Lit(str: Option[String], bucket: Option[Int])

  private val KeepAll: FileTest = _ => true
  private def allOf(tests: Seq[FileTest]): FileTest = f => tests.forall(_(f))

  /** The write path's routing bucket `pmod(xxhash64(v, 42), n)` of the
    * key value `v` of type `dt` (GraftTable.bucketExpr). */
  def bucketOf(v: Any, dt: DataType, n: Int): Int = {
    val h = XxHash64Function.hash(v, dt, 42L)
    (((h % n) + n) % n).toInt
  }

  def of(t: GraftTable, schema: StructType): Pruning =
    Pruning(schema, t.config.scanPartitionField, t.config.keyField, t.config.numBuckets)

  /** A literal in the form commit-log stats store (`cast(col as string)`
    * of the value). None where the forms differ — a date or timestamp
    * literal's value is a day or microsecond count, its stat an ISO
    * string — or for null and binary values: never prune on it. */
  private def render(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (_, _: DateType | _: TimestampType | _: TimestampNTZType) => None
    case (x @ (_: UTF8String | _: Boolean | _: Byte | _: Short | _: Int | _: Long |
        _: Float | _: Double | _: Decimal), _) => Some(x.toString)
    case _ => None
  }

  /** The merge-safe selection: whole (partition, bucket) groups any of
    * whose files `test` admits when `byGroup` (a MOR merge: dropping one
    * file of a group before the latest-wins merge would resurrect the
    * stale versions it shadows), single files otherwise. */
  def select(live: Seq[DataFileMeta], byGroup: Boolean)(test: FileTest): Seq[DataFileMeta] =
    if (!byGroup) live.filter(test)
    else {
      val kept = live.filter(test).map(f => (f.partition, f.bucket)).toSet
      live.filter(f => kept.contains((f.partition, f.bucket)))
    }

  /** What a selection plans: groups when `byGroup`, else files. */
  def units(files: Seq[DataFileMeta], byGroup: Boolean): Int =
    if (byGroup) files.map(f => (f.partition, f.bucket)).distinct.size else files.size

  /** Test observability, by table name: what the last scan planned
    * after its pushed filters, and after its last runtime filter. */
  val lastStaticPlanned = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  val lastRuntimePlanned = new java.util.concurrent.ConcurrentHashMap[String, Int]()
}
