package graft.functions

import graft.core.Json
import graft.relationalize.Relationalizer
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions exposing the engine in SQL.
  *
  * Preference order honored (SURVEY §4): these are (b)-tier custom
  * `Expression`s — the whole-operator semantics stay in stock Spark plans.
  */
object GraftFunctions {

  /** Every engine SQL function as (name, builder): the one table that both
    * [[registerAll]] and [[graft.GraftExtensions]] install from.
    */
  val SqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "relationalize" -> (exprs => RelationalizeGenerator(exprs.head,
      exprs.lift(1).map(foldableString(_, "relationalize name")).getOrElse("t"))),
    "hash60" -> (exprs => Hash60(exprs.head)),
    "graft_barrier" -> (exprs => OptimizationBarrier(exprs.head)),
    "graft_decode_tagged" -> { exprs =>
      val schema = foldableString(exprs(1), "graft_decode_tagged schema")
      graft.relationalize.DecodeTaggedRow(exprs.head, schema,
        graft.core.ChoiceSchema.deserialize(schema).outputColumns)
    },
    "graft_unpack_tagged" -> (exprs => graft.relationalize.UnpackTaggedChunk(exprs.head)),
    "vec_dot" -> (exprs => VecDot(exprs.head, exprs(1))),
    "graft_overlap" -> (exprs => ArrayOverlap(exprs.head, exprs(1))),
    "ahash60" -> (exprs => AHash60(exprs.head)),
    "phash60" -> (exprs => PHash60(exprs.head)),
    "nfc_normalize" -> (exprs => NfcNormalize(exprs.head)),
    "box_resize" -> (exprs => BoxResize(exprs(0), exprs(1), exprs(2))),
    "byte_sum" -> (exprs => ByteSum(exprs.head)),
    "graft_gram_mass" -> (exprs =>
      GramMass(exprs.head, foldableInt(exprs(1), "graft_gram_mass n"))),
    "graft_ngrams" -> (exprs =>
      Ngrams(exprs.head, foldableInt(exprs(1), "graft_ngrams n"))),
    "graft_winnow_fps" -> (exprs => WinnowFps(exprs.head,
      foldableInt(exprs(1), "graft_winnow_fps k"),
      foldableInt(exprs(2), "graft_winnow_fps w"))),
    // Spark's own runtime-filter bloom sketch, exposed in SQL: the aggregate
    // builds the filter as one BINARY value (mergeable partials — no row
    // shuffle, only sketch bytes move), and the probe side consumes it via a
    // scalar subquery (BloomFilterMightContain requires a foldable/subquery
    // bloom, exactly the shape InjectRuntimeFilter generates). Keys are
    // BIGINT — pair with hash60 for string membership.
    "graft_bloom_agg" -> (exprs =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1), exprs(2))),
    "graft_might_contain" -> (exprs =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))))

  /** Register all engine functions on a session (idempotent: only the
    * missing names, so a repeat call replaces nothing and logs no "replaced
    * a previously registered function" warning). Synchronized: concurrent
    * table conversions call it from several driver threads, and both
    * registrations below are check-then-set.
    */
  def registerAll(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    SqlFunctions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    // parse-schema pruning through the barrier (idempotent registration):
    // runs after the main operator-optimization batch, where ColumnPruning
    // has already narrowed consumer projections
    if (!spark.experimental.extraOptimizations.contains(graft.relationalize.PruneBarrieredDecode))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.relationalize.PruneBarrieredDecode
  }

  private def foldableString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def foldableInt(e: Expression, what: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** Column-API surface (requires [[registerAll]] on the session first —
    * Spark 4 no longer exposes a public Expression -> Column constructor).
    */
  def relationalize(json: Column, name: String): Column =
    org.apache.spark.sql.functions.call_function("relationalize", json,
      org.apache.spark.sql.functions.lit(name))
  def hash60(c: Column): Column =
    org.apache.spark.sql.functions.call_function("hash60", c)
  def barrier(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_barrier", c)
  def vecDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)

  /** 32-bit Z-order (Morton) key over two 16-bit dimensions: bit-interleaves
    * `a` (odd bit positions) and `b` (even positions) so sorting by the key
    * clusters rows that are close in BOTH dimensions — the multi-column
    * write layout that keeps per-file min/max ranges tight on either column
    * (1-D range clustering constrains only its own column). Inputs clamp to
    * [0, 65535]; built from shift/mask ops on built-in expressions only, so
    * it stays inside whole-stage codegen — no UDF, no custom Expression.
    */
  def zorderKey(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{greatest, least, lit, shiftleft}
    def spread(c: Column): Column = {
      val x0 = greatest(lit(0L), least(c.cast("long"), lit(65535L)))
      val x1 = shiftleft(x0, 8).bitwiseOR(x0).bitwiseAND(lit(0x00FF00FFL))
      val x2 = shiftleft(x1, 4).bitwiseOR(x1).bitwiseAND(lit(0x0F0F0F0FL))
      val x3 = shiftleft(x2, 2).bitwiseOR(x2).bitwiseAND(lit(0x33333333L))
      shiftleft(x3, 1).bitwiseOR(x3).bitwiseAND(lit(0x55555555L))
    }
    shiftleft(spread(a), 1).bitwiseOR(spread(b))
  }
}

/** Identity wrapper that reports itself non-deterministic so the optimizer
  * never substitutes the wrapped expression across operator boundaries.
  *
  * Why it exists: an inner join on a column produced by an expensive
  * expression (e.g. the row decode in relationalize pass 2) makes Catalyst
  * push `IsNotNull(col)` predicates down THROUGH the projection that reads
  * the column, substituting the full expression into the filter — the
  * payload was then parsed up to 10 times per row, with the filter copies
  * evaluated interpreted. Wrapping the decode in a barrier keeps exactly one
  * evaluation per row; the join's null filter happens above the projection
  * on the cheap attribute instead. The barrier also hides the decode from
  * column pruning; [[graft.relationalize.PruneBarrieredDecode]] restores it.
  * Evaluation and codegen simply forward to the child.
  */
case class OptimizationBarrier(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override def prettyName: String = "graft_barrier"
  override protected def withNewChildInternal(newChild: Expression): OptimizationBarrier =
    copy(child = newChild)
}

/** Table-valued relationalize: one JSON document in, `(table, payload)` rows
  * out — the full flatten/explode transform as a SQL generator, usable as
  * `SELECT r.* FROM docs LATERAL VIEW relationalize(doc, 'events') r`.
  *
  * Rid determinism: stateful per-task (partitionId, ordinal) like
  * `monotonically_increasing_id` — the expression is deserialized fresh per
  * task, so the transient ordinal restarts with the task and document keys
  * match the mapPartitions pipeline's. Marked non-deterministic so Catalyst
  * never collapses, reorders, or re-executes it. (`Nondeterministic` itself
  * clashes with `Generator.eval`'s signature, hence the manual state.)
  */
case class RelationalizeGenerator(child: Expression, name: String)
    extends UnaryExpression with Generator with CodegenFallback {

  override lazy val deterministic: Boolean = false

  override def elementSchema: StructType = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"relationalize expects a JSON string column, got ${child.dataType.catalogString}")

  @transient private var ordinal: Long = 0L // restarts at 0 in each task

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) Nil
    else {
      val docKey = s"${TaskContext.getPartitionId()}:$ordinal"
      ordinal += 1
      Relationalizer.relationalizeLine(raw.asInstanceOf[UTF8String].toString, name, docKey)
        .map { case (table, row) =>
          InternalRow(UTF8String.fromString(table), UTF8String.fromString(Json.writeRow(row)))
        }
    }
  }

  override def prettyName: String = "relationalize"
  override protected def withNewChildInternal(newChild: Expression): RelationalizeGenerator =
    copy(child = newChild)
}

/** Portable 60-bit hash: the first 15 hex digits of md5(utf8) as a BIGINT —
  * bit-identical to DuckDB's `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`.
  * Implements `doGenCode` so it stays inside whole-stage codegen (the dedup
  * signature path evaluates it per shingle).
  */
/** Unicode NFC normalization (`nfc_normalize(str)`): canonical composition
  * via `java.text.Normalizer`. Why the engine ships it: exact dedup keys on
  * byte equality, but the SAME logical text arrives from a real crawl in
  * different byte forms (precomposed U+00E9 vs 'e' + combining U+0301, NFD
  * from macOS filenames, NFKC-variant widths) — without canonicalization,
  * fingerprint dedup silently under-merges. Matches DuckDB's
  * `nfc_normalize` byte-for-byte (both implement Unicode canonical
  * composition), so normalized fingerprints stay oracle-checkable.
  * Codegen'd like [[Hash60]]; identity (and allocation-free fast-pathable)
  * on ASCII.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects string, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any = NfcImpl.normalize(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcImpl.normalize($c)")
  override def prettyName: String = "nfc_normalize"
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcImpl {
  /** static entry shared by interpreted + generated code */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    // NFC is the identity on normalized text (all-ASCII included) — skip
    // the rebuild unless the normalizer would actually change bytes
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

case class Hash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hash60 expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any = Hash60Impl.hash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash60Impl.hash($c)")

  override def prettyName: String = "hash60"
  override protected def withNewChildInternal(newChild: Expression): Hash60 = copy(child = newChild)
}

/** Codegen'd set-overlap sizes over two equally-typed arrays
  * (`ARRAY<STRING>` or `ARRAY<BIGINT>`): one hash pass returning
  * `STRUCT<inter INT, union_sz INT>` with EXACTLY
  * `size(array_intersect(a, b))` / `size(array_union(a, b))` semantics
  * (distinct elements; a null element counts once when present per side).
  * Replaces the pattern that evaluated `array_intersect` twice per pair
  * (once for `inter`, once inside `union_sz`) and materialized the
  * intersection/union ARRAYS only to take their sizes — the Jaccard
  * verification joins' dominant allocation source (measured 24 s of GC on
  * the rich-arm stats entry at sf0.1).
  */
case class ArrayOverlap(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("inter", IntegerType, nullable = false),
    StructField("union_sz", IntegerType, nullable = false)))
  override def nullable: Boolean = true

  private lazy val elemIsString: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if lt == rt && (lt == StringType || lt == LongType) => TypeCheckSuccess
      case (l, r) => TypeCheckFailure(
        s"graft_overlap expects two ARRAY<STRING> or two ARRAY<BIGINT>, got ${l.catalogString} / ${r.catalogString}")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ArrayOverlapImpl.overlap(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      elemIsString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayOverlapImpl.overlap($a, $b, $elemIsString)")

  override def prettyName: String = "graft_overlap"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayOverlap =
    copy(left = newLeft, right = newRight)
}

object ArrayOverlapImpl {
  /** static entry shared by interpreted + generated code */
  def overlap(a: org.apache.spark.sql.catalyst.util.ArrayData,
              b: org.apache.spark.sql.catalyst.util.ArrayData,
              isString: Boolean): InternalRow = {
    val setA = new java.util.HashSet[Any]()
    var nullA = false
    var i = 0
    val na = a.numElements()
    while (i < na) {
      if (a.isNullAt(i)) nullA = true
      else setA.add(if (isString) a.getUTF8String(i) else a.getLong(i))
      i += 1
    }
    var union = setA.size + (if (nullA) 1 else 0)
    var inter = 0
    var nullB = false
    val seenB = new java.util.HashSet[Any]()
    val nb = b.numElements()
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) {
        if (!nullB) { nullB = true; if (nullA) inter += 1 else union += 1 }
      } else {
        val e: Any = if (isString) b.getUTF8String(i) else b.getLong(i)
        if (seenB.add(e)) { if (setA.contains(e)) inter += 1 else union += 1 }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](inter, union))
  }
}

/** Codegen'd vector dot product over two equally-typed arrays
  * (`ARRAY<DOUBLE> -> DOUBLE` or `ARRAY<BIGINT> -> BIGINT`): a tight
  * multiply-accumulate loop in index order, replacing the interpreted
  * higher-order chain `aggregate(zip_with(a, b, (x, y) -> x * y), 0,
  * (acc, v) -> acc + v)` that dominated the embedding dedup/ANN queries
  * (every HOF element evaluation binds lambda variables and allocates
  * through the interpreted evaluator; `zip_with` also materializes the
  * 64-element product array per pair).
  *
  * Semantics mirror that chain exactly, including the error surface:
  *   - accumulation is left-to-right in index order, so DOUBLE results are
  *     bit-identical to the HOF chain (and to the DuckDB oracles derived
  *     from it);
  *   - a null array, a length mismatch (zip_with pads with null), or a null
  *     element (null product poisons the fold) each yield NULL;
  *   - BIGINT overflow raises (exact arithmetic), matching the ANSI-mode
  *     multiply/add of the HOF chain under Spark 4 defaults. The quantized
  *     IVF/LSH dots are sized to stay below 2^53 precisely so this never
  *     fires in the catalog queries.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  private lazy val elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = elemType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if lt == rt && (lt == DoubleType || lt == LongType) => TypeCheckSuccess
      case (l, r) => TypeCheckFailure(
        s"vec_dot expects two ARRAY<DOUBLE> or two ARRAY<BIGINT>, got ${l.catalogString} / ${r.catalogString}")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    val n = a.numElements()
    if (n != b.numElements()) return null
    var i = 0
    if (elemType == DoubleType) {
      var acc = 0.0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        acc += a.getDouble(i) * b.getDouble(i)
        i += 1
      }
      acc
    } else {
      var acc = 0L
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        acc = Math.addExact(acc, Math.multiplyExact(a.getLong(i), b.getLong(i)))
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (jt, getter) =
      if (elemType == DoubleType) ("double", "getDouble") else ("long", "getLong")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val mac =
        if (elemType == DoubleType) s"$acc += $a.$getter($i) * $b.$getter($i);"
        else s"$acc = java.lang.Math.addExact($acc, " +
          s"java.lang.Math.multiplyExact($a.$getter($i), $b.$getter($i)));"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  $jt $acc = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $mac
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override def prettyName: String = "vec_dot"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd 60-bit average-hash over a BINARY payload: 60 evenly-sampled
  * bytes (offset floor(k*n/60)), bit k set when 60*px[k] exceeds the sample
  * sum — bit-identical to the portable SQL derivation the DuckDB oracle
  * runs (hex-pair parse + integer compares), but one tight primitive loop
  * instead of 60 interpreted substring/instr lambda evaluations per row
  * (higher-order functions never enter whole-stage codegen). NULL for an
  * empty payload (the SQL path is undefined there; callers filter empties).
  */
case class AHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"ahash60 expects binary, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any = {
    val r = AHash60Impl.hash(v.asInstanceOf[Array[Byte]])
    if (r == AHash60Impl.EmptyInput) null else java.lang.Long.valueOf(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.AHash60Impl.hash($c);
      |if (${ev.value} == java.lang.Long.MIN_VALUE) ${ev.isNull} = true;
     """.stripMargin)

  override def prettyName: String = "ahash60"
  override protected def withNewChildInternal(newChild: Expression): AHash60 = copy(child = newChild)
}

/** Codegen'd 60-bit perceptual DCT hash (pHash) over a BINARY payload:
  * 8x8 sampled byte grid, 2-D DCT as two integer matrix multiplies with the
  * fixed-point basis [[PHash60Impl.M]], the 60 lowest-frequency AC
  * coefficients thresholded at their exact lower median — bit-identical to
  * the portable SQL derivation the DuckDB oracle runs (hex-pair parse +
  * the same matrix literals), but one tight primitive loop instead of two
  * 512-term interpreted higher-order transforms per row. NULL for an empty
  * payload (callers filter empties, as with ahash60).
  */
case class PHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"phash60 expects binary, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any = {
    val r = PHash60Impl.hash(v.asInstanceOf[Array[Byte]])
    if (r == PHash60Impl.EmptyInput) null else java.lang.Long.valueOf(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.PHash60Impl.hash($c);
      |if (${ev.value} == java.lang.Long.MIN_VALUE) ${ev.isNull} = true;
     """.stripMargin)

  override def prettyName: String = "phash60"
  override protected def withNewChildInternal(newChild: Expression): PHash60 = copy(child = newChild)
}

object PHash60Impl {
  /** Sentinel for a zero-length payload (no valid signature). */
  val EmptyInput: Long = Long.MinValue

  /** Fixed-point orthonormal 8-point DCT-II basis, scaled by 2¹² — the ONE
    * set of 64 integer literals the Spark expression and the DuckDB oracle
    * share (every AC row sums to exactly 0, so uniform level shifts cannot
    * change any AC coefficient — spec-pinned).
    */
  val M: IndexedSeq[Long] =
    for (u <- 0 until 8; x <- 0 until 8) yield
      math.round(4096.0 * (if (u == 0) math.sqrt(1.0 / 8) else 0.5) *
        math.cos((2 * x + 1) * u * math.Pi / 16))
  private val mArr: Array[Long] = M.toArray

  /** static entry shared by interpreted + generated code */
  def hash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return EmptyInput
    // 8x8 sampled grid, row-major: px(x*8 + y) = byte at ((x*8+y)*n) div 64
    val px = new Array[Long](64)
    var k = 0
    while (k < 64) {
      px(k) = bytes(((k.toLong * n) / 64).toInt) & 0xffL
      k += 1
    }
    // t(i) = sum_x M((i/8)*8+x) * px(x*8 + i%8)   (row transform)
    val t = new Array[Long](64)
    var i = 0
    while (i < 64) {
      var acc = 0L; var x = 0
      while (x < 8) { acc += mArr((i / 8) * 8 + x) * px(x * 8 + i % 8); x += 1 }
      t(i) = acc; i += 1
    }
    // cf(i) = sum_x M((i%8)*8+x) * t((i/8)*8+x)   (column transform)
    val cf = new Array[Long](64)
    i = 0
    while (i < 64) {
      var acc = 0L; var x = 0
      while (x < 8) { acc += mArr((i % 8) * 8 + x) * t((i / 8) * 8 + x); x += 1 }
      cf(i) = acc; i += 1
    }
    // 60 lowest-frequency AC coefficients (skip DC), lower median, bits
    val sel = java.util.Arrays.copyOfRange(cf, 1, 61)
    val sorted = sel.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(29) // 30th of 60, the exact lower median
    var sig = 0L
    k = 0
    while (k < 60) {
      if (sel(k) > med) sig |= 1L << k
      k += 1
    }
    sig
  }
}

object AHash60Impl {
  /** Sentinel for a zero-length payload (no valid signature). */
  val EmptyInput: Long = Long.MinValue

  /** static entry shared by interpreted + generated code */
  def hash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return EmptyInput
    val px = new Array[Int](60)
    var total = 0L
    var k = 0
    while (k < 60) {
      px(k) = bytes(((k.toLong * n) / 60).toInt) & 0xff
      total += px(k)
      k += 1
    }
    var sig = 0L
    k = 0
    while (k < 60) {
      if (60L * px(k) > total) sig |= 1L << k
      k += 1
    }
    sig
  }
}

/** Static hash helper in a standalone object (NOT the [[Hash60]] companion):
  * scalac suppresses the Java static forwarder on a companion class whose
  * class already declares a member of the same name (`Expression.eval`), so
  * generated Java calling `Hash60.eval(UTF8String)` failed to compile and
  * every hash60 stage silently fell back to interpreted execution. A
  * standalone object gets a mirror class with a true static `hash` method.
  */
object Hash60Impl {
  // MessageDigest.getInstance does a provider lookup per call — measurable at
  // hundreds of thousands of shingles per partition; reuse per thread
  private val localMd: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** static entry shared by interpreted + generated code */
  def hash(s: UTF8String): Long = {
    val md = localMd.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // first 15 hex digits = first 7 bytes + high nibble of the 8th
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    (acc << 4) | ((d(7) & 0xf0L) >> 4)
  }
}

/** Codegen'd area-average (box-filter) downscale of a BINARY pixel plane:
  * `box_resize(plane, width, factor)` averages each factor x factor block
  * of the row-major unsigned-byte plane in exact integer arithmetic
  * (`sum div factor^2`, identical to the `//` spelling the DuckDB oracle
  * runs) and returns the (width div factor) x (height div factor) plane as
  * BINARY — trailing rows/columns that don't fill a block are dropped,
  * matching the `div` dimension arithmetic. This replaces the interpreted
  * hex-string detour `mm_resize_real` carried (lower(hex(plane)) + four
  * instr() lookups per output pixel inside a transform lambda — the same
  * interpreted-HOF shape phash60 retired): one tight primitive loop per
  * row, inside whole-stage codegen. NULL for an empty plane, a
  * non-positive width/factor, or a plane shorter than one full block row.
  */
case class BoxResize(plane: Expression, width: Expression, factor: Expression)
    extends TernaryExpression {
  override def first: Expression = plane
  override def second: Expression = width
  override def third: Expression = factor
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (plane.dataType == BinaryType && width.dataType == IntegerType &&
        factor.dataType == IntegerType) TypeCheckSuccess
    else TypeCheckFailure(
      s"box_resize expects (BINARY, INT, INT), got ${plane.dataType.catalogString}, " +
        s"${width.dataType.catalogString}, ${factor.dataType.catalogString}")
  }

  override def nullSafeEval(p: Any, w: Any, f: Any): Any =
    BoxResizeImpl.resize(p.asInstanceOf[Array[Byte]],
      w.asInstanceOf[Int], f.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, w, f) => s"""
      |${ev.value} = graft.functions.BoxResizeImpl.resize($p, $w, $f);
      |if (${ev.value} == null) ${ev.isNull} = true;
     """.stripMargin)

  override def prettyName: String = "box_resize"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BoxResize =
    copy(plane = newFirst, width = newSecond, factor = newThird)
}

object BoxResizeImpl {
  /** static kernel shared by interpreted + generated code; null = invalid */
  def resize(plane: Array[Byte], width: Int, factor: Int): Array[Byte] = {
    if (plane.length == 0 || width <= 0 || factor <= 0) return null
    val height = plane.length / width
    val w2 = width / factor
    val h2 = height / factor
    if (w2 == 0 || h2 == 0) return null
    // Long accumulator: a full block at factor >= 2903 sums past
    // Int.MaxValue (255 * factor^2) — the exact-integer promise must hold
    // for ANY factor, not just the catalog's 2
    val div = factor.toLong * factor
    val out = new Array[Byte](w2 * h2)
    var by = 0
    while (by < h2) {
      var bx = 0
      while (bx < w2) {
        var sum = 0L
        var dy = 0
        while (dy < factor) {
          val base = (by * factor + dy) * width + bx * factor
          var dx = 0
          while (dx < factor) { sum += plane(base + dx) & 0xff; dx += 1 }
          dy += 1
        }
        out(by * w2 + bx) = (sum / div).toByte
        bx += 1
      }
      by += 1
    }
    out
  }
}

/** Codegen'd unsigned byte sum over a BINARY payload: `byte_sum(media)` =
  * sum of all bytes read as 0..255, as BIGINT — the exact-integer
  * checksum the multimodal entries report per plane, without round-tripping
  * the payload through hex strings. 0 for an empty payload.
  */
case class ByteSum(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"byte_sum expects binary, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any = ByteSumImpl.sum(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.ByteSumImpl.sum($c);")

  override def prettyName: String = "byte_sum"
  override protected def withNewChildInternal(newChild: Expression): ByteSum = copy(child = newChild)
}

object ByteSumImpl {
  /** static kernel shared by interpreted + generated code */
  def sum(bytes: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < bytes.length) { acc += bytes(i) & 0xffL; i += 1 }
    acc
  }
}

/** Codegen'd per-document n-gram character-mass statistics over a token
  * array: `graft_gram_mass(tokens, n)` returns
  * `STRUCT<top_chars BIGINT, dup_chars BIGINT>` where, over the document's
  * n-grams (token windows joined with ' ', exactly
  * `array_join(slice(t, i, n), ' ')` including its skip-null semantics),
  *
  *   - `top_chars` = cnt · length(gram) of the single most common gram
  *     (ties broken gram-ascending in UTF8 binary order — the
  *     `row_number() OVER (ORDER BY cnt DESC, g ASC)` rule);
  *   - `dup_chars` = Σ cnt · length(gram) over grams with cnt ≥ 2.
  *
  * Both are 0 when the document has fewer than n tokens (the old
  * formulation's absent-row/`coalesce(_, 0)` case). This replaces the
  * Gopher-repetition per-arm pipeline — interpreted
  * `transform(sequence, slice, array_join)` explode, a (doc, gram) shuffle,
  * a doc-keyed window for the top gram, a second aggregation for the dup
  * mass, and two joins back — with ONE per-row pass and NO shuffle: every
  * gram of a document lives in its own row's array (guide §2.4 "remove
  * shuffles outright" / step-4 expression work).
  */
case class GramMass(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"graft_gram_mass window must be >= 1, got $n")
  override def dataType: DataType = StructType(Seq(
    StructField("top_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_gram_mass expects ARRAY<STRING>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    GramMassImpl.mass(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramMassImpl.mass($c, $n)")

  override def prettyName: String = "graft_gram_mass"
  override protected def withNewChildInternal(newChild: Expression): GramMass =
    copy(child = newChild)
}

object GramMassImpl {
  private val Space = UTF8String.fromString(" ")

  /** static kernel shared by interpreted + generated code */
  def mass(arr: org.apache.spark.sql.catalyst.util.ArrayData, n: Int): InternalRow = {
    val m = arr.numElements()
    if (m < n) return new GenericInternalRow(Array[Any](0L, 0L))
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i + n <= m) {
      var j = 0
      while (j < n) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      // concatWs skips null inputs — identical to array_join's null handling
      val g = UTF8String.concatWs(Space, parts: _*)
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1L)) else c(0) += 1
      i += 1
    }
    var topCnt = 0L
    var topGram: UTF8String = null
    var dup = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = e.getKey
      val c = e.getValue()(0)
      if (c > topCnt || (c == topCnt && g.compareTo(topGram) < 0)) { topCnt = c; topGram = g }
      if (c >= 2) dup += c * g.numChars()
    }
    new GenericInternalRow(Array[Any](topCnt * topGram.numChars(), dup))
  }
}

/** Codegen'd n-gram builder over a token array: `graft_ngrams(tokens, n)`
  * returns the `size - n + 1` space-joined token windows as ARRAY<STRING> —
  * exactly `transform(sequence(1, size(t) - n + 1), i ->
  * array_join(slice(t, i, n), ' '))` (skip-null join semantics included),
  * but one tight loop instead of an interpreted higher-order chain that
  * allocates a sequence array plus a slice copy per window. Empty array when
  * the document has fewer than n tokens. Used by the gram-explode sites
  * whose grams feed cross-document joins (decontaminate, ngram-dup) — the
  * per-doc statistics sites use [[GramMass]]/[[WinnowFps]] instead.
  */
case class Ngrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"graft_ngrams window must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ngrams expects ARRAY<STRING>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    NgramsImpl.grams(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NgramsImpl.grams($c, $n)")

  override def prettyName: String = "graft_ngrams"
  override protected def withNewChildInternal(newChild: Expression): Ngrams =
    copy(child = newChild)
}

object NgramsImpl {
  private val Space = UTF8String.fromString(" ")

  /** static kernel shared by interpreted + generated code */
  def grams(arr: org.apache.spark.sql.catalyst.util.ArrayData, n: Int): GenericArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val parts = new Array[UTF8String](n)
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i + n <= m) {
      var j = 0
      while (j < n) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen'd winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003) over a
  * token array: `graft_winnow_fps(tokens, k, w)` returns
  * `ARRAY<STRUCT<fp BIGINT, n_windows BIGINT>>` — for each distinct window
  * minimum over the k-gram hash60 stream, the number of windows that
  * selected it, sorted fp-ascending (deterministic row set; the consumer
  * explodes it). Bit-identical to the chain it replaces —
  * `hash60(array_join(slice(tks, i, k), ' '))` per gram (skip-null join
  * semantics included), `array_min(slice(hs, i, w))` per window, then
  * `groupBy(doc_id, fp).count()` — but in ONE per-row pass (monotonic-deque
  * sliding minimum) with no interpreted higher-order functions and NO
  * groupBy shuffle: every window of a document lives in its own row.
  * Empty array when the document has fewer than k + w - 1 tokens (the old
  * `filter(size(tks) >= k+w-1)` drop).
  */
case class WinnowFps(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k >= 1 && w >= 1, s"graft_winnow_fps needs k, w >= 1, got k=$k w=$w")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("fp", LongType, nullable = false),
    StructField("n_windows", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_winnow_fps expects ARRAY<STRING>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    WinnowFpsImpl.fps(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowFpsImpl.fps($c, $k, $w)")

  override def prettyName: String = "graft_winnow_fps"
  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFpsImpl {
  private val Space = UTF8String.fromString(" ")

  /** static kernel shared by interpreted + generated code */
  def fps(arr: org.apache.spark.sql.catalyst.util.ArrayData, k: Int, w: Int): GenericArrayData = {
    val m = arr.numElements()
    if (m < k + w - 1) return new GenericArrayData(Array.empty[Any])
    val nGrams = m - k + 1
    val hs = new Array[Long](nGrams)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < nGrams) {
      var j = 0
      while (j < k) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      hs(i) = Hash60Impl.hash(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    // sliding-window minimum via monotonic deque (O(nGrams) total), counting
    // how many windows each distinct minimum VALUE wins
    val counts = new java.util.HashMap[java.lang.Long, Array[Long]]()
    val deque = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < nGrams) {
      while (!deque.isEmpty && hs(deque.peekLast()) >= hs(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst() <= i - w) deque.pollFirst()
      if (i >= w - 1) {
        val fp = java.lang.Long.valueOf(hs(deque.peekFirst()))
        val c = counts.get(fp)
        if (c == null) counts.put(fp, Array(1L)) else c(0) += 1
      }
      i += 1
    }
    val fpsSorted = new Array[Long](counts.size())
    val it = counts.keySet().iterator()
    i = 0
    while (it.hasNext) { fpsSorted(i) = it.next(); i += 1 }
    java.util.Arrays.sort(fpsSorted)
    val out = new Array[Any](fpsSorted.length)
    i = 0
    while (i < fpsSorted.length) {
      out(i) = new GenericInternalRow(
        Array[Any](fpsSorted(i), counts.get(fpsSorted(i))(0)))
      i += 1
    }
    new GenericArrayData(out)
  }
}
