package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot path: a single
  * codegen'd loop over the two `ArrayData` values instead of a chain of 64
  * `element_at` expressions or an interpreted higher-order `aggregate`
  * lambda. Summation is left-to-right in double precision — bit-identical
  * to the unrolled/`aggregate` formulations (and to DuckDB's list ops), so
  * swapping implementations never changes oracle-checked results.
  *
  * Preference order per SURVEY.md §0/§4: built-in composition first; a
  * custom `Expression` with `doGenCode` exactly here, where built-ins
  * cannot express "one fused pass over two arrays".
  *
  * Null elements inside the arrays are not expected (embedding columns are
  * dense); a null array yields null via BinaryExpression's default
  * null-safety.
  */
abstract class VectorFoldExpression extends BinaryExpression {

  override def dataType: DataType = DoubleType

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<float|double> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  protected def elemAt(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType  => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case _          => throw new IllegalStateException(s"unexpected element type $t")
  }
}

/** `graft_dot(a, b)`: Σ a(i)·b(i) over the common prefix length. */
case class DotProduct(left: Expression, right: Expression) extends VectorFoldExpression {

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left); val rt = elemType(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += elemAt(x, i, lt) * elemAt(y, i, rt); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val lv = CodeGenerator.getValue(a, elemType(left), i)
      val rv = CodeGenerator.getValue(b, elemType(right), i)
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double)($lv) * (double)($rv);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `graft_cosine(a, b)`: cosine similarity in ONE fused pass (dot and both
  * norms accumulated in the same loop). NaN when either norm is zero. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorFoldExpression {

  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left); val rt = elemType(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = elemAt(x, i, lt); val yv = elemAt(y, i, rt)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val lv = CodeGenerator.getValue(a, elemType(left), i)
      val rv = CodeGenerator.getValue(b, elemType(right), i)
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double)($lv);
         |  double $yv = (double)($rv);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** `graft_isect(a, b)`: |A ∩ B| for two SORTED-ascending long arrays with
  * distinct elements — a zero-allocation merge walk. Spark's built-in
  * `array_intersect` builds an OpenHashSet per invocation; on a candidate
  * self-join evaluating millions of pairs the allocation dominates. Sorting
  * happens once per row upstream (`array_sort`), the merge runs per pair. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_isect"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** `graft_size(x)`: Cypher `size()` — element count for arrays/maps,
  * character count for strings, byte count for binary. Spark has no
  * polymorphic builtin (`size` is collections-only, `length` is
  * strings-only); type dispatch happens once at analysis/codegen time, so
  * the generated code is the same as the mono-typed builtin's. */
case class PolySize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def prettyName: String = "graft_size"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType | _: MapType | _: StringType | BinaryType | NullType =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array, map, string or binary argument, got ${dt.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case _: ArrayType => v.asInstanceOf[ArrayData].numElements()
    case _: MapType => v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData].numElements()
    case _: StringType => v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].numChars()
    case _ => v.asInstanceOf[Array[Byte]].length
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case _: ArrayType | _: MapType => defineCodeGen(ctx, ev, c => s"$c.numElements()")
      case _: StringType             => defineCodeGen(ctx, ev, c => s"$c.numChars()")
      case _                         => defineCodeGen(ctx, ev, c => s"$c.length")
    }

  override protected def withNewChildInternal(newChild: Expression): PolySize =
    copy(child = newChild)
}

/** Static xxhash64 helper callable from generated Java code (top-level
  * Scala objects emit static forwarders). Seed 42 — identical to the
  * `xxhash64` builtin's default, so `graft_simhash` over shingle strings
  * equals the explode + `xxhash64` formulations bit-for-bit. */
object SimHashUtil {
  def hash(s: org.apache.spark.unsafe.types.UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(s, StringType, 42L)
}

/** `graft_simhash(shingles)`: 64-bit SimHash of an `array<string>` in ONE
  * fused per-row pass — xxhash64 each shingle, ±1 vote per bit, sign sets
  * the bit (votes > 0 → 1; ties → 0, matching the HOF and vote-aggregate
  * formulations exactly). Replaces an explode + 64-column vote aggregate
  * (512 B of shuffled aggregation state per doc) with a pure projection:
  * zero shuffle, zero aggregation state, one JIT-tight loop. */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def prettyName: String = "graft_simhash"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${dt.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val h = SimHashUtil.hash(arr.getUTF8String(i))
      var j = 0
      while (j < 64) { votes(j) += ((((h >>> j) & 1L).toInt) << 1) - 1; j += 1 }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sim |= (1L << j); j += 1 }
    sim
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reused vote buffer: one 64-int array per operator instance, not per row
    val votes = ctx.addMutableState("int[]", "simhashVotes", v => s"$v = new int[64];")
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k"); val h = ctx.freshName("h")
      val s = ctx.freshName("s")
      s"""
         |java.util.Arrays.fill($votes, 0);
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = graft.functions.SimHashUtil.hash($a.getUTF8String($i));
         |  for (int $j = 0; $j < 64; $j++) {
         |    $votes[$j] += (((int)(($h >>> $j) & 1L)) << 1) - 1;
         |  }
         |}
         |long $s = 0L;
         |for (int $k = 0; $k < 64; $k++) { if ($votes[$k] > 0) $s |= (1L << $k); }
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Session registration + Column-level API. */
object GraftFunctions {

  /** Single source of truth for every graft function: name, implementing
    * class (for `ExpressionInfo`), builder. Session registration AND the
    * `SparkSessionExtensions` injection both iterate THIS list, so a new
    * expression can never be visible on one path and missing on the
    * other. */
  private[functions] val builders
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct],
      exprs => DotProduct(exprs(0), exprs(1))),
    ("graft_cosine", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    ("graft_isect", classOf[SortedIntersectCount],
      exprs => SortedIntersectCount(exprs(0), exprs(1))),
    ("graft_size", classOf[PolySize], exprs => PolySize(exprs.head)),
    // Bloom-filter membership probe over xxhash64 values: Spark's own
    // runtime-filter expression (codegen'd, deserialized once per task) —
    // the SQL surface for it isn't registered by default. Args: (binary
    // serialized org.apache.spark.util.sketch.BloomFilter, long hash).
    ("graft_bloom_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      exprs => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1))),
    // aggregate: build a Bloom filter over xxhash64 values INSIDE the
    // query (Spark's own runtime-filter aggregate, not SQL-registered by
    // default). Args: (long hash, foldable estimated item count, foldable
    // bit count) → binary serialized filter. Paired with
    // graft_bloom_might_contain's scalar-subquery form, a large filter
    // never materializes on the driver or inside the logical plan.
    ("graft_bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      exprs => org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1), exprs(2), 0, 0)
        .toAggregateExpression()),
    // avg over DISTINCT values: the real Average aggregate with the
    // distinct flag (planner rewrites it through the standard distinct
    // aggregation path), so the result TYPE and rounding match plain
    // avg() — a hand-rolled sum_distinct/count_distinct divide diverges
    // on decimal inputs
    ("graft_avg_distinct",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.Average],
      exprs => org.apache.spark.sql.catalyst.expressions.aggregate
        .Average(exprs(0)).toAggregateExpression(isDistinct = true)),
    // exact discrete percentile via Spark's native PercentileDisc (counts
    // hashmap state: group memory ∝ distinct values, not rows — the
    // WITHIN-GROUP SQL form isn't reachable through call_function, so the
    // builder is registered directly)
    ("graft_percentile_disc",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.PercentileDisc],
      exprs => {
        val pd = org.apache.spark.sql.catalyst.expressions.aggregate
          .PercentileDisc(exprs(0), exprs(1))
        // Disc picks an ACTUAL element, so openCypher keeps the input type
        // (Spark's PercentileDisc widens to double). The cast must wrap an
        // AggregateExpression (a bare Cast(AggregateFunction) is not
        // auto-wrapped by ResolveFunctions and trips MISSING_GROUP_BY), so
        // pre-wrap explicitly; guard on resolved children for dataType
        if (exprs(0).resolved)
          org.apache.spark.sql.catalyst.expressions.Cast(
            pd.toAggregateExpression(), exprs(0).dataType)
        else pd
      }),
    ("graft_simhash", classOf[SimHash64], exprs => SimHash64(exprs.head)),
    // aggregate: k-slot minhash signature over pre-hashed shingles
    ("graft_minhash", classOf[MinHashAgg],
      exprs => MinHashAgg(exprs.head, graft.pipeline.Dedup.NumHashes)),
    // per-row form of the same signature (stream-signable, shuffle-free)
    ("graft_minhash_row", classOf[MinHashRowExpr],
      exprs => MinHashRowExpr(exprs.head, graft.pipeline.Dedup.NumHashes)),
    // aggregate: k-minimum-values distinct sketch; k must be foldable
    ("graft_kmv", classOf[KmvAgg], exprs =>
      KmvAgg(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue)),
    // codepoint Shannon entropy (nats), sorted-fold deterministic
    ("graft_char_entropy", classOf[CharEntropyExpr],
      exprs => CharEntropyExpr(exprs.head)),
    // aggregate: count-min sketch over pre-bucketed indices; d, w foldable.
    // 3-arg form: +1 per row; 4-arg form: (buckets, weight, d, w) adds the
    // row's weight — feeds the sketch from a pre-grouped (key, count) frame
    ("graft_cms", classOf[CountMinAgg], exprs =>
      if (exprs.length == 4)
        CountMinAgg(exprs.head,
          exprs(2).eval().asInstanceOf[Number].intValue,
          exprs(3).eval().asInstanceOf[Number].intValue,
          weight = exprs(1))
      else
        CountMinAgg(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue,
          exprs(2).eval().asInstanceOf[Number].intValue)),
    // aggregate: Roaring-bitmap neighbor set → sorted array<bigint>
    ("graft_bitmap_neighbors", classOf[BitmapNeighborsAgg],
      exprs => BitmapNeighborsAgg(exprs.head)),
    // all L sign-random-projection codes fused into one pass; geometry
    // args must be foldable (they parameterize the generated code)
    ("graft_srp_codes", classOf[SrpCodesExpr], exprs => {
      def i(e: Expression) = e.eval().asInstanceOf[Number].intValue
      def l(e: Expression) = e.eval().asInstanceOf[Number].longValue
      SrpCodesExpr(exprs(0), i(exprs(1)), i(exprs(2)), i(exprs(3)), l(exprs(4)))
    }),
    // per-row (csim, -cent_id) struct array vs a foldable centroid set
    // (ids / flat matrix / norms as array literals, evaluated at build)
    // PQ codes vs a foldable codebook (flat matrix + geometry literals)
    ("graft_pq_encode", classOf[PqEncodeExpr], exprs => {
      import org.apache.spark.sql.catalyst.util.ArrayData
      def i(e: Expression) = e.eval().asInstanceOf[Number].intValue
      val cbFlat = exprs(1).eval().asInstanceOf[ArrayData].toDoubleArray
      PqEncodeExpr(exprs(0), cbFlat, i(exprs(2)), i(exprs(3)), i(exprs(4)))
    }),
    // feature-hashed TF-IDF apply vs a foldable idf model (array literal)
    ("graft_hash_embed", classOf[HashEmbedExpr], exprs => {
      import org.apache.spark.sql.catalyst.util.ArrayData
      HashEmbedExpr(exprs(0),
        exprs(1).eval().asInstanceOf[ArrayData].toDoubleArray)
    }),
    ("graft_cent_sims", classOf[CentroidSimsExpr], exprs => {
      import org.apache.spark.sql.catalyst.util.ArrayData
      val ids = exprs(2).eval().asInstanceOf[ArrayData].toLongArray.toSeq
      val cents = exprs(3).eval().asInstanceOf[ArrayData].toDoubleArray.toSeq
      val norms = exprs(4).eval().asInstanceOf[ArrayData].toDoubleArray.toSeq
      val dim = exprs(5).eval().asInstanceOf[Number].intValue
      CentroidSimsExpr(exprs(0), exprs(1), ids, cents, norms, dim)
    }))

  /** Idempotent per-session registration (temp functions). Names already
    * present are left untouched — every library op calls this on entry,
    * and re-registering emitted a "replaced a previously registered
    * function" warning per name per call (the only log noise in an
    * otherwise clean bench run). A user who shadowed a `graft_*` name
    * keeps their binding; use [[GraftExtensions]] for permanent
    * conflict-free registration. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, b) =>
      if (!reg.functionExists(new FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("graft_isect", a, b)
  def minhashSignatureAgg(hashedShingle: Column): Column =
    call_function("graft_minhash", hashedShingle)
  def minhashSignatureRow(hashedShingles: Column): Column =
    call_function("graft_minhash_row", hashedShingles)
  def kmvAgg(hash: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_kmv", hash, lit(k))
  }
  def charEntropy(text: Column): Column =
    call_function("graft_char_entropy", text)
  def cmsAgg(buckets: Column, d: Int, w: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_cms", buckets, lit(d), lit(w))
  }
  def cmsAggWeighted(buckets: Column, weight: Column, d: Int, w: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_cms", buckets, weight, lit(d), lit(w))
  }
  def bitmapNeighborsAgg(id: Column): Column =
    call_function("graft_bitmap_neighbors", id)
  def srpCodes(v: Column, tables: Int, planes: Int, dim: Int,
      baseSeed: Long = 7L): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_srp_codes", v,
      lit(tables), lit(planes), lit(dim), lit(baseSeed))
  }
  def centroidSims(v: Column, vnorm: Column, ids: Array[Long],
      centsFlat: Array[Double], norms: Array[Double], dim: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_cent_sims", v, vnorm,
      lit(ids), lit(centsFlat), lit(norms), lit(dim))
  }
  def pqEncode(v: Column, cbFlat: Array[Double], m: Int, kCent: Int,
      dSub: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_pq_encode", v, lit(cbFlat), lit(m), lit(kCent), lit(dSub))
  }
  def simhash64(shingles: Column): Column = call_function("graft_simhash", shingles)
  def hashEmbed(toks: Column, idf: Array[Double]): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_hash_embed", toks, lit(idf))
  }
  /** Probe a broadcast-able serialized Bloom filter with an xxhash64
    * value; pair with `df.stat.bloomFilter` built over the same hashes. */
  def bloomMightContain(bloomBytes: Column, hashed: Column): Column =
    call_function("graft_bloom_might_contain", bloomBytes, hashed)
  /** Aggregate a Bloom filter over xxhash64 values inside the query;
    * `estItems`/`numBits` must be foldable longs (they size the filter,
    * bounded by spark.sql.optimizer.runtime.bloomFilter.maxNumItems /
    * maxNumBits). */
  def bloomAgg(hashed: Column, estItems: Column, numBits: Column): Column =
    call_function("graft_bloom_agg", hashed, estItems, numBits)
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` (set by
  * [[graft.SparkTuning.kryoConf]]) registers the vector functions as
  * permanent built-ins for pure-SQL users, and installs two physical
  * rules, both of which read the thread's [[graft.exec.Statement]]: the
  * one that reads bound `$param` values through references
  * ([[graft.exec.ParamRefs]], a columnar and a query-stage optimizer
  * rule), and the one that serves value-free broadcast join sides from
  * the session's held store ([[graft.exec.HeldBroadcasts]], a query-stage
  * preparation rule). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, cls, b) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), b))
    }
    e.injectColumnar(graft.exec.ParamRefs.columnar)
    e.injectQueryStageOptimizerRule(new graft.exec.ParamRefs.Replace(_))
    e.injectQueryStagePrepRule(new graft.exec.HeldBroadcasts.Hold(_))
  }
}
