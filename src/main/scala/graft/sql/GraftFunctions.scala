package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** The engine's bucket transform as a DataSource-v2 catalog function —
  * the piece that unlocks storage-partitioned joins (SPJ).
  *
  * The write path routes every record to file group
  * `pmod(xxhash64(key), numBuckets)` (GraftTable.bucketExpr), so two
  * graft tables with the same key type and bucket count are physically
  * co-partitioned on disk. Reporting that layout to Catalyst as
  * `KeyGroupedPartitioning(identity(partition), bucket(n, key))` lets a
  * join of two such tables run with ZERO shuffle exchanges: Spark
  * matches the two sides' partitionings by comparing this function's
  * `canonicalName` and the transform arguments, then zips file groups
  * pairwise (SPARK-37375's storage-partitioned join). At 100 TB this
  * turns the fact⋈fact join — the single most expensive shuffle an
  * analytics engine runs — into a co-located merge per file group.
  *
  * The hash here MUST stay bit-identical to `bucketExpr`:
  * xxhash64(seed 42) of the key under Spark's own type bridging, then
  * the positive modulus. Both sides resolve the function from the same
  * catalog class, so canonical names line up by construction.
  */
object GraftBucketFunction extends UnboundFunction {

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(numBuckets, key): graft file-group routing — " +
      "pmod(xxhash64(key, seed=42), numBuckets)"

  /** Spark binds bucket transforms with input `(numBuckets, key)` —
    * the literal first (V2ExpressionUtils bucket resolution order). */
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"graft bucket(numBuckets, key) expects 2 args, got ${inputType.length}")
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType)
      .contains(inputType.fields(0).dataType),
      s"graft bucket: numBuckets must be integral, got ${inputType.fields(0).dataType}")
    new GraftBoundBucket(inputType.fields(1).dataType)
  }
}

final class GraftBoundBucket(keyType: DataType)
    extends ScalarFunction[Integer] {

  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  // SPJ compatibility is decided by canonicalName equality across the
  // two join sides; key-type specialisations of the same routing hash
  // must all report the same name.
  override def canonicalName(): String = "graft.bucket"
  override def isResultNullable: Boolean = false

  override def produceResult(input: InternalRow): Integer =
    graft.core.Pruning.bucketOf(input.get(1, keyType), keyType, input.getInt(0))
}
