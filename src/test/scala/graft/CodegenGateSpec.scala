package graft

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Codegen-fallback gate for every custom scalar kernel (r9 verdict item 2).
  *
  * Why this exists: `UnsafeProjection.create` wraps codegen in
  * `CodeGeneratorWithInterpretedFallback` — a kernel whose generated Java
  * does not compile doesn't fail the query, it silently de-optimizes the
  * whole projection to interpreted eval (a WARN in the log is the only
  * trace). That is exactly what happened to [[graft.functions.VectorDot]]
  * through r9: `nullSafeCodeGen` captures the template with `ev.isNull` as a
  * fresh `isNull_N` name, then for a NON-nullable expression swaps
  * `ev.isNull` to FalseLiteral without ever declaring the variable the
  * template already referenced → Janino "isNull_N is not an rvalue" → the
  * literal-centroid paths (kmeans / IVF / quantized sim-search) ran
  * interpreted, the one place the kernel exists to be fast.
  *
  * Two layers, both deterministic (no log grepping):
  *
  *  1. Direct compile: `GenerateUnsafeProjection.generate` has NO fallback —
  *     a compile error throws. Each kernel is built over nullable AND
  *     non-nullable children (the non-nullable config is the one
  *     nullSafeCodeGen treats differently) and the compiled result is
  *     asserted equal to the interpreted `expr.eval`.
  *  2. End-to-end: the affected query keys run under
  *     `spark.sql.codegen.factoryMode=CODEGEN_ONLY`, which turns ANY
  *     interpreted-fallback anywhere in their plans into a thrown error.
  */
class CodegenGateSpec extends SparkSpec {

  private def darr(xs: Double*): GenericArrayData = new GenericArrayData(xs.toArray)
  private def sarr(xs: String*): GenericArrayData =
    new GenericArrayData(xs.map(s => if (s == null) null else UTF8String.fromString(s)).toArray[Any])
  private def larr(xs: java.lang.Long*): GenericArrayData =
    new GenericArrayData(xs.toArray[Any])
  private def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)

  private def norm(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (a: ArrayData, ArrayType(LongType, _)) => a.toLongArray.toSeq
    case (a: ArrayData, ArrayType(DoubleType, _)) => a.toDoubleArray.toSeq
    case (a: ArrayData, ArrayType(StringType, _)) =>
      a.toArray[Any](StringType).map(x => if (x == null) null else x.toString).toSeq
    case (x, _) => x
  }

  /** Compile via the no-fallback generator and cross-check vs interpreted. */
  private def gate(expr: Expression, rows: Seq[InternalRow]): Unit = {
    val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws on Janino failure
    rows.foreach { r =>
      val out = proj(r)
      val got = if (out.isNullAt(0)) null else norm(out.get(0, expr.dataType), expr.dataType)
      val want = norm(expr.eval(r), expr.dataType)
      assert(got == want, s"codegen/interp divergence for $expr: $got vs $want")
    }
  }

  private val dArrN = ArrayType(DoubleType, containsNull = true)
  private val dArrNN = ArrayType(DoubleType, containsNull = false)

  test("VectorDot compiles and matches eval: nullable children, both modes") {
    val l = BoundReference(0, dArrN, nullable = true)
    val r = BoundReference(1, dArrN, nullable = true)
    val rows = Seq(
      row(darr(1, 2, 3), darr(4, 5, 6)),
      row(new GenericArrayData(Array[Any](1.0, null, 3.0)), darr(4, 5, 6)),
      row(darr(1, 2), darr(4, 5, 6)), // unequal lengths
      row(null, darr(4, 5, 6)),
      row(darr(1, 2, 3), null))
    gate(VectorDot(l, r, nullAsNull = false), rows)
    gate(VectorDot(l, r, nullAsNull = true), rows)
  }

  test("VectorDot compiles when NON-nullable (the r9 silent-fallback config)") {
    // Non-nullable bound refs + non-null literal: nullable=false overall when
    // nullAsNull=false — pre-fix this emitted an undeclared isNull_N and fell
    // back to interpreted eval on every literal-centroid distance projection.
    val l = BoundReference(0, dArrNN, nullable = false)
    val rLit = Literal.create(Array(4.0, 5.0, 6.0), dArrNN)
    val rows = Seq(row(darr(1, 2, 3)), row(darr(0.5, -1, 2)), row(darr(1, 2))) // incl. short
    val nn = VectorDot(l, rLit, nullAsNull = false)
    assert(!nn.nullable, "test premise: this config must be non-nullable")
    gate(nn, rows)
    // nullAsNull=true forces nullable=true even over non-nullable children —
    // the isNull-writing branches must still compile and agree with eval.
    gate(VectorDot(l, rLit, nullAsNull = true), rows)
  }

  test("text-sketch kernels compile over nullable and non-nullable children") {
    val sArr = ArrayType(StringType, containsNull = false)
    val lArr = ArrayType(LongType, containsNull = false)
    for (nullable <- Seq(true, false)) {
      val toks = BoundReference(0, sArr, nullable = nullable)
      val hashes = BoundReference(0, lArr, nullable = nullable)
      val text = BoundReference(0, StringType, nullable = nullable)
      val baseRows = Seq(row(sarr("the", "quick", "brown", "fox")), row(sarr()))
      val nullRow = if (nullable) Seq(row(null)) else Nil
      gate(MinHashSig(toks, 8), baseRows ++ nullRow)
      gate(MinHashPolySig(toks, 8), baseRows ++ nullRow)
      gate(TokenHash61(toks), baseRows ++ nullRow)
      gate(TokenHashPoly(toks), baseRows ++ nullRow)
      gate(MinHashSig(hashes, 8), Seq(row(larr(7L, 99L, 1234567L)), row(larr())) ++ nullRow)
      gate(SimHashSig(hashes), Seq(row(larr(7L, 99L, 1234567L)), row(larr())) ++ nullRow)
      gate(ShingleHashPoly(text, 3),
        Seq(row(UTF8String.fromString("abcdefgh")), row(UTF8String.fromString("ab"))) ++ nullRow)
    }
  }

  test("SignPack compiles over nullable and non-nullable children") {
    for (nullable <- Seq(true, false)) {
      val arrT = if (nullable) dArrN else dArrNN
      val child = BoundReference(0, arrT, nullable = nullable)
      val baseRows = Seq(
        row(darr(1.0, -2.0, 0.0, -0.0)), // −0.0 ≥ 0: bit set, like SQL >=
        row(darr()),
        row(new GenericArrayData(Array.tabulate[Any](70)(i => i.toDouble - 35)))) // > 64 dims
      val nullElem = if (nullable)
        Seq(row(new GenericArrayData(Array[Any](1.0, null, -3.0)))) else Nil
      val nullRow = if (nullable) Seq(row(null)) else Nil
      gate(SignPack(child), baseRows ++ nullElem ++ nullRow)
    }
    // literal child (the simsearch_hamming query-code path)
    gate(SignPack(Literal.create(Array(0.5, -0.5, 0.0), dArrNN)), Seq(row()))
  }

  test("Int8Quantize and CenterDeflect compile over nullable and non-nullable children") {
    for (nullable <- Seq(true, false)) {
      val arrT = if (nullable) dArrN else dArrNN
      val v = BoundReference(0, arrT, nullable = nullable)
      val baseRows = Seq(
        row(darr(1.0, -2.0, 0.5)),
        row(darr(0.0, 0.0)), // all-zero → zeros branch
        row(darr()))
      // null ELEMENTS throw by contract (r14 — FunctionsSpec pins the
      // throw); the gate feeds null-free arrays plus the null ROW case
      val nullRow = if (nullable) Seq(row(null)) else Nil
      gate(Int8Quantize(v), baseRows ++ nullRow)
      val vd = BoundReference(0, arrT, nullable = nullable)
      val dRows = Seq(
        row(darr(1.0, -2.0, 0.5)),
        row(darr()))
      val dNull = if (nullable) Seq(row(null)) else Nil
      gate(CenterDeflect(vd, Literal(0.25d),
        IndexedSeq(0.1, 0.2, 0.3), IndexedSeq(0.5, -0.5, 1.0)), dRows ++ dNull)
    }
    // literal child (the query-row path)
    gate(Int8Quantize(Literal.create(Array(3.0, -1.5), dArrNN)), Seq(row()))
  }

  test("WindowPairs compiles and matches the positional-join pair semantics") {
    val sArr = ArrayType(StringType, containsNull = true)
    for (nullable <- Seq(true, false)) {
      val child = BoundReference(0, if (nullable) sArr
        else ArrayType(StringType, containsNull = false), nullable = nullable)
      val rows = Seq(
        row(sarr("b", "a", "b", "c")),
        row(sarr("x")),
        row(sarr())) ++
        (if (nullable) Seq(row(sarr("a", null, "b")), row(null)) else Nil)
      gate(WindowPairs(child, 4), rows)
    }
    // known answer, window 2 over [b, a, b, c], position order: i=0 pairs
    // (b,a) and (b,b → self, skipped); i=1 pairs (a,b), (a,c); i=2 pairs
    // (b,c) — emitted as unordered "min max" keys
    val got = WindowPairs.pairs(sarr("b", "a", "b", "c"), 2)
      .toArray[Any](StringType).map(_.toString).toSeq
    assert(got == Seq("a b", "a b", "a c", "b c"), got.toString)
  }

  test("PqAdc compiles over nullable and non-nullable children") {
    val nSub = 2; val dSub = 2; val nCodes = 2
    val subC = IndexedSeq(0.5, -0.5, 1.0, 0.0, 0.25, 0.75, -1.0, 0.5)
    val c2 = IndexedSeq(0.5, 1.0, 0.625, 1.25)
    val qd = IndexedSeq(10L, 20L, 30L, 40L)
    val cm = IndexedSeq(1L, 2L, 3L, 4L)
    for (nullable <- Seq(true, false)) {
      val arrT = if (nullable) dArrN else dArrNN
      val v = BoundReference(0, arrT, nullable = nullable)
      val rows = Seq(
        row(darr(1.0, -2.0, 0.5, 3.0)),
        row(darr(1.0)), // shorter than nSub*dSub: shortfall contributes 0
        row(darr())) ++
        (if (nullable)
          Seq(row(new GenericArrayData(Array[Any](1.0, null, 0.5, 2.0))), row(null))
        else Nil)
      gate(PqAdc(v, subC, c2, qd, cm, nSub, dSub, nCodes), rows)
    }
  }

  test("NfcNormalize compiles over nullable and non-nullable children") {
    for (nullable <- Seq(true, false)) {
      val child = BoundReference(0, StringType, nullable = nullable)
      val rows = Seq(
        row(UTF8String.fromString("plain ascii")),
        row(UTF8String.fromString("e\u0301 decomposed")), // composes to U+00E9
        row(UTF8String.fromString("\u00e9 precomposed")),
        row(UTF8String.fromString(""))) ++
        (if (nullable) Seq(row(null)) else Nil)
      gate(NfcNormalize(child), rows)
    }
  }

  test("IcebergBucket compiles over nullable and non-nullable children") {
    for (nullable <- Seq(true, false)) {
      val nullRow = if (nullable) Seq(row(null)) else Nil
      gate(IcebergBucket(Literal(16), BoundReference(0, LongType, nullable)),
        Seq(row(34L), row(-7L)) ++ nullRow)
      gate(IcebergBucket(Literal(16), BoundReference(0, IntegerType, nullable)),
        Seq(row(34), row(-7)) ++ nullRow)
      gate(IcebergBucket(Literal(16), BoundReference(0, StringType, nullable)),
        Seq(row(UTF8String.fromString("iceberg"))) ++ nullRow)
      gate(IcebergBucket(Literal(16), BoundReference(0, TimestampType, nullable)),
        Seq(row(1710000000000000L)) ++ nullRow)
    }
  }

  test("vector query keys run end-to-end under CODEGEN_ONLY factory mode") {
    // CODEGEN_ONLY turns every CodeGeneratorWithInterpretedFallback site into
    // compile-or-throw: if any expression in these plans (ours or Spark's)
    // generated bad Java, the query fails instead of silently de-optimizing.
    Memo.clear(spark) // drop memoized frames so plans re-execute
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      for (k <- Seq("kmeans_iterate", "simsearch_ivf", "simsearch_quant",
          "simsearch_hamming", "simsearch_matryoshka",
          "embedding_abtt", "rank_fusion_rrf", "simsearch_pq",
          "dedup_simhash", "dedup_minhash", "transform_bucket_iceberg")) {
        val n = SparkEntry.queries(k)(spark, sfDir).count()
        assert(n > 0, s"$k returned no rows under CODEGEN_ONLY")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      Memo.clear(spark)
    }
  }
}
