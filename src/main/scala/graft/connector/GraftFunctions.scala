package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, DataTypes, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The catalog-scoped SQL function surface (`SELECT cat.system.fnv64(x)`)
  * — Spark's FunctionCatalog tier, completing the function-exposure
  * ladder: session natives (injected by [[graft.functions.GraftExtensions]])
  * serve one session; catalog functions travel WITH the catalog, so any
  * session that mounts the warehouse gets them, version-consistently,
  * with no session setup at all (Iceberg exposes its bucket/truncate
  * transforms exactly this way).
  *
  * Each function binds to a [[ScalarFunction]] with BOTH `produceResult`
  * (interpreted) and the `invoke` magic method — Spark prefers the
  * static-dispatch form, keeping the call inside codegen without UDF
  * boxing. `fnv64` delegates to the SAME byte loop as the Catalyst
  * expression ([[graft.functions.FnvHash64.hash]]), so the catalog form
  * and the native form are bit-identical by construction.
  */
private[connector] object GraftCatalogFunctions {

  val Namespace = "system"

  /** FNV-1a 64-bit string hash — the fingerprint/bucketing primitive. */
  object Fnv64 extends UnboundFunction {
    override def name(): String = "fnv64"
    override def description(): String =
      "fnv64(str) - FNV-1a 64-bit hash of a string"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
        inputType.fields(0).dataType == StringType,
        s"fnv64 takes one string argument, got ${inputType.catalogString}")
      FnvBound
    }
  }

  object FnvBound extends ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(StringType)
    override def resultType(): DataType = LongType
    override def name(): String = "fnv64"
    override def canonicalName(): String = "graft.fnv64"
    override def produceResult(input: InternalRow): java.lang.Long =
      invoke(input.getUTF8String(0))
    def invoke(s: UTF8String): java.lang.Long =
      if (s == null) null
      else java.lang.Long.valueOf(graft.functions.FnvHash64.hash(s.getBytes))
  }

  /** Deterministic content-hash sampling predicate: keep(str, rate_pct)
    * is true for ~rate_pct% of distinct values — the RNG-free sampling
    * primitive the mix/split operators use, exposed to pure SQL.
    */
  object SampleKeep extends UnboundFunction {
    override def name(): String = "sample_keep"
    override def description(): String =
      "sample_keep(str, rate_pct) - deterministic content-hash sampling " +
        "(true for ~rate_pct% of distinct inputs; rate in [0, 100])"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2 &&
        inputType.fields(0).dataType == StringType &&
        inputType.fields(1).dataType.isInstanceOf[org.apache.spark.sql.types.IntegerType],
        s"sample_keep takes (string, int), got ${inputType.catalogString}")
      SampleKeepBound
    }
  }

  object SampleKeepBound extends ScalarFunction[java.lang.Boolean] {
    override def inputTypes(): Array[DataType] =
      Array(StringType, DataTypes.IntegerType)
    override def resultType(): DataType = DataTypes.BooleanType
    override def name(): String = "sample_keep"
    override def canonicalName(): String = "graft.sample_keep"
    override def produceResult(input: InternalRow): java.lang.Boolean =
      invoke(input.getUTF8String(0), input.getInt(1))
    def invoke(s: UTF8String, ratePct: Int): java.lang.Boolean = {
      if (s == null) return java.lang.Boolean.FALSE
      val h = graft.functions.FnvHash64.hash(s.getBytes)
      // non-negative residue; 0..99 bucket
      val bucket = ((h % 100) + 100) % 100
      java.lang.Boolean.valueOf(bucket < ratePct)
    }
  }

  val All: Map[String, UnboundFunction] =
    Map("fnv64" -> Fnv64, "sample_keep" -> SampleKeep)

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array(Namespace)))
      All.keys.map(n => Identifier.of(Array(Namespace), n)).toArray
    else Array.empty

  def load(ident: Identifier): Option[UnboundFunction] =
    if (ident.namespace.sameElements(Array(Namespace)))
      All.get(ident.name)
    else None
}
