package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** Per-row PROBES into driver-built frequency/membership sketches — the
  * scalar half of the "sketch gates, exact rescores" pattern
  * ([[graft.operators.Stats.heavyHitters]],
  * [[graft.operators.Joins.bloomPrunedSemiJoin]]):
  *
  *  - `cms_estimate(sketchBytes, item)` — Count–Min frequency estimate
  *    (`est >= true count` always, so `est >= T` admits every true heavy
  *    hitter; an exact pass over the survivors removes the
  *    overestimates).
  *  - `bloom_contains(sketchBytes, item)` — Bloom membership (no false
  *    negatives, so filtering a fact table with the dimension's Bloom
  *    before the shuffle never drops a matching row; the join itself
  *    removes the false positives).
  *
  * Spark's own `count_min_sketch` aggregate and
  * `DataFrameStatFunctions.bloomFilter` BUILD the sketches but expose no
  * per-row probe — the binaries are meant for driver-side use. These
  * expressions close that gap with codegen (one virtual call per row
  * into the deserialized sketch, cached per task via a reference
  * object), keeping the gating filter inside whole-stage codegen.
  *
  * Hash parity with the builders: Spark's sketch impls hash strings via
  * their UTF-8 bytes (`addString` == `addBinary(utf8)`), so the probe
  * side passes `UTF8String.getBytes` straight through; integral types go
  * through the boxed `Object` path both sides hash as a long.
  *
  * The sketch child must be a foldable binary (the serialized sketch
  * rides the plan as a literal — same pattern as the hyperplane
  * literals in [[VectorExprs]]).
  */
object SketchGate {

  private def checkChildren(fn: String, sketch: Expression,
      item: Expression): TypeCheckResult = {
    if (!sketch.foldable || sketch.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$fn: sketch must be a foldable BINARY (the serialized sketch)")
    else item.dataType match {
      case StringType | BinaryType | ByteType | ShortType | IntegerType |
          LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn: unsupported item type $other " +
          "(string, binary and integral items only)")
    }
  }

  /** `cms_estimate(sketch, item)`: Count–Min estimated frequency of
    * `item` (LongType; `null` item → `null`). Always an OVERestimate of
    * the true count — the property the heavy-hitter gate relies on.
    */
  case class CmsEstimate(sketch: Expression, item: Expression)
    extends Expression {

    override def children: Seq[Expression] = Seq(sketch, item)
    override def dataType: DataType = LongType
    override def nullable: Boolean = item.nullable
    override def prettyName: String = "cms_estimate"

    override def checkInputDataTypes(): TypeCheckResult =
      checkChildren("cms_estimate", sketch, item)

    @transient private lazy val cms: CountMinSketch =
      CountMinSketch.readFrom(sketch.eval().asInstanceOf[Array[Byte]])

    def estimateBytes(b: Array[Byte]): Long = cms.estimateCount(b)
    def estimateLong(l: Long): Long =
      cms.estimateCount(java.lang.Long.valueOf(l))

    override def eval(input: InternalRow): Any = {
      val v = item.eval(input)
      if (v == null) null
      else v match {
        case s: UTF8String => estimateBytes(s.getBytes)
        case b: Array[Byte] => estimateBytes(b)
        case n: java.lang.Number => estimateLong(n.longValue())
      }
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val self = ctx.addReferenceObj("cmsEstimate", this,
        classOf[CmsEstimate].getName)
      val i = item.genCode(ctx)
      val call = item.dataType match {
        case StringType => s"$self.estimateBytes((${i.value}).getBytes())"
        case BinaryType => s"$self.estimateBytes(${i.value})"
        case _ => s"$self.estimateLong((long) ${i.value})"
      }
      ev.copy(code =
        code"""
          ${i.code}
          boolean ${ev.isNull} = ${i.isNull};
          long ${ev.value} = 0L;
          if (!${ev.isNull}) { ${ev.value} = $call; }
        """)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(sketch = newChildren(0), item = newChildren(1))
  }

  /** `bloom_contains(sketch, item)`: Bloom-filter membership probe
    * (BooleanType; `null` item → `null`). `false` is definitive — a key
    * the builder added can never probe `false`.
    */
  case class BloomContains(sketch: Expression, item: Expression)
    extends Expression {

    override def children: Seq[Expression] = Seq(sketch, item)
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = item.nullable
    override def prettyName: String = "bloom_contains"

    override def checkInputDataTypes(): TypeCheckResult =
      checkChildren("bloom_contains", sketch, item)

    @transient private lazy val bloom: BloomFilter =
      BloomFilter.readFrom(sketch.eval().asInstanceOf[Array[Byte]])

    def containsBytes(b: Array[Byte]): Boolean = bloom.mightContainBinary(b)
    def containsLong(l: Long): Boolean = bloom.mightContainLong(l)

    override def eval(input: InternalRow): Any = {
      val v = item.eval(input)
      if (v == null) null
      else v match {
        case s: UTF8String => containsBytes(s.getBytes)
        case b: Array[Byte] => containsBytes(b)
        case n: java.lang.Number => containsLong(n.longValue())
      }
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val self = ctx.addReferenceObj("bloomContains", this,
        classOf[BloomContains].getName)
      val i = item.genCode(ctx)
      val call = item.dataType match {
        case StringType => s"$self.containsBytes((${i.value}).getBytes())"
        case BinaryType => s"$self.containsBytes(${i.value})"
        case _ => s"$self.containsLong((long) ${i.value})"
      }
      ev.copy(code =
        code"""
          ${i.code}
          boolean ${ev.isNull} = ${i.isNull};
          boolean ${ev.value} = false;
          if (!${ev.isNull}) { ${ev.value} = $call; }
        """)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(sketch = newChildren(0), item = newChildren(1))
  }

  /** `bloom_contains_bc(bc, item)`: [[BloomContains]] with the filter
    * bytes carried by a BROADCAST handle instead of a Literal child —
    * the at-scale form (r15 q172 root cause): a Literal rides the task
    * binary, so EVERY task deserializes its own copy of the filter
    * (`ObjectInputStream.readArray` of 116 MiB at the 100× census ×
    * 128 tasks × 32 concurrent = multi-GB heap churn of humongous
    * allocations — the reproduced catalog-member OOM, stack trace in
    * PLANS.md). The broadcast VALUE is fetched once per executor JVM,
    * and the deserialized `BloomFilter` (another 116 MiB of long[] per
    * `readFrom`) is shared across tasks through a small per-JVM LRU
    * keyed by broadcast id. Cluster-correct: the handle serializes
    * with the expression; executors resolve it through the
    * BroadcastManager like any closure-captured broadcast.
    */
  case class BloomContainsBc(
      bc: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      bcId: Expression, item: Expression) extends Expression {

    override def children: Seq[Expression] = Seq(bcId, item)
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = item.nullable
    override def prettyName: String = "bloom_contains_bc"

    override def checkInputDataTypes(): TypeCheckResult = {
      if (!bcId.foldable || bcId.dataType != LongType)
        TypeCheckResult.TypeCheckFailure(
          "bloom_contains_bc: first arg must be a foldable LONG " +
            "broadcast id (construct through SketchGate.bloom_contains_bc)")
      else item.dataType match {
        case StringType | BinaryType | ByteType | ShortType |
            IntegerType | LongType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"bloom_contains_bc: unsupported item type $other " +
            "(string, binary and integral items only)")
      }
    }

    // resolve the shared filter ONCE per expression instance (≈ per
    // task): the cache lookup takes a monitor, and taking it per PROBE
    // serialized all 32 workers on one lock across 4.1B wedge rows
    // (r15 wedged-run stack dump — every thread BLOCKED on the cache)
    @transient private lazy val bloom: BloomFilter = BloomBcCache.get(bc)

    def containsBytes(b: Array[Byte]): Boolean = bloom.mightContainBinary(b)
    def containsLong(l: Long): Boolean = bloom.mightContainLong(l)

    override def eval(input: InternalRow): Any = {
      val v = item.eval(input)
      if (v == null) null
      else v match {
        case s: UTF8String => containsBytes(s.getBytes)
        case b: Array[Byte] => containsBytes(b)
        case n: java.lang.Number => containsLong(n.longValue())
      }
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val self = ctx.addReferenceObj("bloomContainsBc", this,
        classOf[BloomContainsBc].getName)
      val i = item.genCode(ctx)
      val call = item.dataType match {
        case StringType => s"$self.containsBytes((${i.value}).getBytes())"
        case BinaryType => s"$self.containsBytes(${i.value})"
        case _ => s"$self.containsLong((long) ${i.value})"
      }
      ev.copy(code =
        code"""
          ${i.code}
          boolean ${ev.isNull} = ${i.isNull};
          boolean ${ev.value} = false;
          if (!${ev.isNull}) { ${ev.value} = $call; }
        """)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(bcId = newChildren(0), item = newChildren(1))
  }

  /** Per-JVM deserialized-filter LRU (max 2 — one live census filter
    * plus one draining): `BloomFilter.readFrom` materializes the full
    * bit array, so an unbounded id-keyed cache would retain 116 MiB
    * per census RUN across a catalog pass. Keyed by (appId, bc.id),
    * NOT bc.id alone — broadcast ids restart from 0 per SparkContext,
    * so after a stop/start cycle in one JVM (test suites, tool reuse)
    * a recycled id would silently serve the PREVIOUS context's filter
    * (r15 ADVICE). Instance identity can't be the key: executors
    * deserialize a fresh Broadcast wrapper per task, and sharing
    * across tasks is the whole point.
    */
  private object BloomBcCache {
    private val MaxEntries = 2
    private def appId: String =
      try org.apache.spark.SparkEnv.get.conf.get("spark.app.id", "")
      catch { case _: Throwable => "" }
    private val m =
      new java.util.LinkedHashMap[(String, Long), BloomFilter](4, 0.75f,
        true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), BloomFilter]): Boolean =
          size() > MaxEntries
      }
    def get(bc: org.apache.spark.broadcast.Broadcast[Array[Byte]])
        : BloomFilter = m.synchronized {
      val key = (appId, bc.id)
      val cached = m.get(key)
      if (cached != null) cached
      else {
        val bf = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bc.value))
        m.put(key, bf)
        bf
      }
    }
  }

  // Driver-side plan-construction detour: the function registry builds
  // expressions from Expression children only, so the broadcast HANDLE
  // is stashed here under its id (a long literal child) during
  // analysis. Executors never read this map — the handle serializes
  // inside the expression. Values are WEAK references (r15 ADVICE): a
  // strong map entry would pin every filter's broadcast for the
  // process lifetime AND block ContextCleaner from ever destroying it
  // — one 116 MiB census filter per catalog sweep adds up. The
  // constructed BloomContainsBc holds the strong ref; the contract is
  // that the caller applies the returned Column to a DataFrame
  // (triggering analysis, which resolves the handle) while it still
  // strongly references the Broadcast — true of every call site, which
  // builds and uses the Column in one expression.
  private val bcHandles = new java.util.concurrent.ConcurrentHashMap[
    Long,
    java.lang.ref.WeakReference[
      org.apache.spark.broadcast.Broadcast[Array[Byte]]]]()

  private[graft] val kernels: Seq[(String, Kernels.Builder)] = Seq(
    "cms_estimate" -> (e => CmsEstimate(e(0), e(1))),
    "bloom_contains" -> (e => BloomContains(e(0), e(1))),
    "bloom_contains_bc" -> { e =>
      val id = e(0).eval().asInstanceOf[Number].longValue()
      val ref = bcHandles.get(id)
      val bc = if (ref == null) null else ref.get()
      require(bc != null,
        s"bloom_contains_bc: unknown or collected broadcast id $id — " +
          "construct through SketchGate.bloom_contains_bc and apply " +
          "the Column while the Broadcast is strongly referenced")
      BloomContainsBc(bc, e(0), e(1))
    })

  /** Count–Min frequency estimate of `item` under the serialized sketch
    * (built by Spark's `count_min_sketch` aggregate).
    */
  def cms_estimate(sketchBytes: Array[Byte], item: Column): Column =
    Kernels.call("cms_estimate", lit(sketchBytes), item)

  /** Bloom membership probe of `item` under the serialized filter (built
    * by `DataFrameStatFunctions.bloomFilter` — serialize with
    * [[serializeBloom]]).
    */
  def bloom_contains(bloomBytes: Array[Byte], item: Column): Column =
    Kernels.call("bloom_contains", lit(bloomBytes), item)

  /** Broadcast-handle membership probe — use this form whenever the
    * serialized filter is more than a few MiB (see [[BloomContainsBc]];
    * the Literal form re-deserializes the filter per task).
    */
  def bloom_contains_bc(
      bc: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      item: Column): Column = {
    // prune entries whose broadcast was collected — keeps the map from
    // accumulating dead ids across a long catalog sweep
    bcHandles.entrySet().removeIf(e => e.getValue.get() == null): Unit
    bcHandles.put(bc.id,
      new java.lang.ref.WeakReference(bc)): Unit
    Kernels.call("bloom_contains_bc", lit(bc.id), item)
  }

  def serializeBloom(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
