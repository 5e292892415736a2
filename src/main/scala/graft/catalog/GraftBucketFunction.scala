package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

/** The catalog's `bucket(n, key)` function — `pmod(murmur3_hash(key),
  * n)`, the very function the writer's router assigns files with
  * ([[GraftBucketOf]]). The
  * function exists so Spark's storage-partitioned-join machinery can
  * resolve the `bucket` transform the DSv2 scan reports in its
  * `KeyGroupedPartitioning`: `V2ExpressionUtils` loads it from the
  * table's [[org.apache.spark.sql.connector.catalog.FunctionCatalog]],
  * compatibility between two scans compares [[BoundFunction
  * .canonicalName]] (type-qualified, so an int-keyed table never
  * false-matches a long-keyed one — murmur3 hashes them differently),
  * and when partition values must be recomputed (missing-partition
  * push-down), [[ScalarFunction.produceResult]] re-derives ids with
  * exactly the writer's function. Iceberg ships the same shape
  * (its SparkFunctions bucket); this one is pinned to the engine's own
  * layout. */
private[catalog] object GraftBucketFunction extends UnboundFunction {

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(n, col) -> pmod(murmur3_hash(col), n): the bucketed layout's " +
      "file assignment (int/bigint/string keys)"

  /** Spark binds bucket transforms as (numBuckets INT, key). */
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
        inputType.fields.head.dataType == IntegerType,
      s"bucket takes (numBuckets INT, key); got ${inputType.simpleString}")
    inputType.fields(1).dataType match {
      case dt @ (IntegerType | LongType | StringType) => new GraftBucketBound(dt)
      case other => throw new UnsupportedOperationException(
        s"bucket: unsupported key type ${other.simpleString} " +
          "(int/bigint/string only — the writer hashes nothing else)")
    }
  }
}

private[catalog] final class GraftBucketBound(dt: DataType)
  extends ScalarFunction[Integer] {

  override def inputTypes(): Array[DataType] = Array(IntegerType, dt)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def isResultNullable: Boolean = false
  /** Type-qualified: SPJ compatibility keys on this string, and
    * murmur3(5: int) != murmur3(5L: long). */
  override def canonicalName(): String = s"graft.bucket(${dt.typeName})"

  private val bucketOf = new GraftBucketOf(1, dt)

  override def produceResult(input: InternalRow): Integer =
    Integer.valueOf(bucketOf(input, input.getInt(0)))

  override def toString: String = canonicalName()
}

/** THE bucket-of-value function: `pmod(murmur3_hash(v), n)` of the
  * value `v` at `ordinal` of a row, hashed at its own type `dt`
  * (`functions.hash` is `Murmur3Hash` at seed 42; murmur3(5: int) !=
  * murmur3(5L), and a null hashes to the seed, matching SQL
  * `hash(NULL)`). The writer's router, the catalog's `bucket`
  * function and bucket pruning all call it, so the written layout,
  * the reported partitioning and the pruned buckets cannot disagree. */
private[graft] final class GraftBucketOf(ordinal: Int, dt: DataType) extends Serializable {
  @transient private lazy val hasher =
    Murmur3Hash(Seq(BoundReference(ordinal, dt, nullable = true)), 42)

  def apply(row: InternalRow, n: Int): Int = {
    val h = hasher.eval(row).asInstanceOf[Int]
    ((h % n) + n) % n
  }
}
