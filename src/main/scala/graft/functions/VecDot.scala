package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd dot product over two numeric array columns, accumulated in
  * double — the hot inner loop of similarity search. The builtin equivalent
  * (`aggregate(zip_with(a, b, …))`) runs interpreted per element with a
  * closure call and boxing per lambda step; this expression compiles to a
  * tight primitive `for` loop inside whole-stage codegen, worth >10× on
  * brute-force kNN / near-dup scoring.
  *
  * Usage: registered as SQL function `vec_dot` (VecFunctions.register /
  * GraftExtensions), so expression-string nodes can call
  * `vec_dot(emb_a, emb_b)` anywhere.
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def elemType(e: Expression): DataType = e.dataType.asInstanceOf[ArrayType].elementType
  private def accessor(t: DataType): String = t match {
    case FloatType => "getFloat"
    case _         => "getDouble"
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val (fa, fb) = (elemType(left) == FloatType, elemType(right) == FloatType)
    var i = 0
    var sum = 0.0
    while (i < n) {
      val x = if (fa) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (fb) b.getFloat(i).toDouble else b.getDouble(i)
      sum += x * y
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (accA, accB) = (accessor(elemType(left)), accessor(elemType(right)))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += ((double) $a.$accA($i)) * ((double) $b.$accB($i));
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd integer dot product over two `array<int>` columns, accumulated
  * in long — the coarse-scoring inner loop of quantized (int8) similarity
  * search. Integer accumulation is EXACT (no summation-order sensitivity),
  * so quantized candidate ranking is bit-reproducible across partitionings;
  * int8 codes fit int exactly, and 64-dim int8 dots stay far inside int64.
  */
case class VecDotInt(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot_int needs array<int> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "vec_dot_int"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var sum = 0L
    while (i < n) { sum += a.getInt(i).toLong * b.getInt(i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += ((long) $a.getInt($i)) * ((long) $b.getInt($i));
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDotInt =
    copy(left = newLeft, right = newRight)
}

/** graft's compiled kernels as SQL functions, and the one place that says
  * which sessions carry them.
  *
  * Session contract: graft registers the kernel table wherever a session
  * enters it — every [[graft.dag.Ctx]] (so every node call), every
  * `SessionIsolation.freshClone` (the one graft path that builds a session
  * with a fresh function registry, `newSession()`), and `GraftSession`
  * (the driver programs). Sessions derived by `cloneSession()` — among them
  * Structured Streaming's micro-batch sessions — copy their parent's
  * registry, kernels included. A session graft never saw, such as a
  * caller's own `spark.newSession()`, does not carry the kernels, and a
  * graft frame built on it fails analysis with `UNRESOLVED_ROUTINE`: call
  * [[register]] on it, or build it with `spark.sql.extensions` set to
  * [[GraftExtensions]].
  */
object VecFunctions {
  private def intLit(e: Expression): Int =
    e.eval(null) match {
      case i: Int => i
      case other  => throw new IllegalArgumentException(s"expected int literal, got $other")
    }
  private def boolLit(e: Expression): Boolean =
    e.eval(null) match {
      case b: Boolean => b
      case other      => throw new IllegalArgumentException(s"expected boolean literal, got $other")
    }
  private def strLit(e: Expression): String =
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(s"expected string literal, got $other")
    }

  /** One kernel: its SQL name, the expression class it builds, and the
    * builder over the call's argument expressions. */
  private[functions] final case class Kernel(name: String, cls: Class[_ <: Expression],
      build: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
  }

  /** The kernel table: both [[register]] and [[GraftExtensions]] install
    * exactly these entries, so the same SQL resolves however the session
    * was built. */
  private[functions] val kernels: Seq[Kernel] = Seq(
    Kernel("vec_dot", classOf[VecDot], e => VecDot(e(0), e(1))),
    Kernel("vec_dot_int", classOf[VecDotInt], e => VecDotInt(e(0), e(1))),
    Kernel("minhash_bands", classOf[MinHashBands],
      e => MinHashBands(e(0), intLit(e(1)), intLit(e(2)))),
    Kernel("shingle_hashes", classOf[ShingleHashes],
      e => ShingleHashes(e(0), intLit(e(1)), if (e.length > 2) boolLit(e(2)) else true)),
    Kernel("simhash64", classOf[SimHash64], e => SimHash64(e(0))),
    Kernel("lsh_signs", classOf[LshSigns], e => LshSigns(e(0), intLit(e(1)), intLit(e(2)))),
    Kernel("winnow_fp", classOf[WinnowFingerprint],
      e => WinnowFingerprint(e(0), intLit(e(1)), intLit(e(2)))),
    Kernel("unicode_norm", classOf[UnicodeNormalize], UnicodeNormalize.fromExprs),
    Kernel("bpe_encode", classOf[BpeEncode],
      e => BpeEncode(e(0), strLit(e(1)).split('\n').toSeq)),
    Kernel("morton2", classOf[MortonInterleave], e => MortonInterleave(e(0), e(1))),
    Kernel("morton3", classOf[Morton3Interleave],
      e => Morton3Interleave(e(0), e(1), e(2))))

  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Idempotently register the kernel table into a session. A name the
    * session already binds to graft's own class (an earlier call, a copied
    * registry, the extension) is left as it is, so re-registration never
    * trips `SimpleFunctionRegistry`'s "replaced a function" warning. A name
    * bound to any OTHER function is never clobbered (ADVICE r17: each
    * kernel is checked on its own, so one foreign name cannot hide the
    * rest), but the hijack is logged once per name (ADVICE r18): graft
    * queries that use that kernel run the session's function instead. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    kernels.foreach { k =>
      reg.lookupFunction(k.id) match {
        case None => reg.registerFunction(k.id, k.info, k.build)
        case Some(bound) if bound.getClassName != k.cls.getName =>
          if (warned.add(k.name))
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"graft kernel '${k.name}' not registered: the session already binds " +
                "a function of that name — graft queries using this kernel " +
                "will run the session's function, not graft's")
        case _ =>
      }
    }
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` installs the
  * kernel table at session build time (the deployment path for a shared
  * cluster); every session built from that config carries the kernels.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    VecFunctions.kernels.foreach(k => ext.injectFunction((k.id, k.info, k.build)))
}
