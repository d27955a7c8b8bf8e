package org.apache.spark.sql

import graft.dag.Ctx
import graft.functions.{GraftExtensions, VecFunctions}
import graft.nodes.SessionIsolation
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** graft's kernel table on both registration paths (`spark.sql.extensions`
  * and `VecFunctions.register`) and at the seams where sessions enter
  * graft. In this package because `SparkSessionExtensions.registerFunctions`
  * is `private[sql]`. */
class GraftKernelsSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkFixture.spark

  private val kernelNames = Set("vec_dot", "vec_dot_int", "minhash_bands",
    "shingle_hashes", "simhash64", "lsh_signs", "winnow_fp", "unicode_norm",
    "bpe_encode", "morton2", "morton3")

  /** Kernel name -> expression class, as the extension installs them. */
  private lazy val extensionKernels: Map[String, String] = {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val builtin = FunctionRegistry.builtin
    val reg = ext.registerFunctions(builtin.clone())
    reg.listFunction().filterNot(builtin.functionExists)
      .map(id => id.funcName -> reg.lookupFunction(id).get.getClassName).toMap
  }

  /** The kernel names `s` binds, with the class each one builds. */
  private def kernelsOf(s: SparkSession): Map[String, String] = {
    val reg = s.sessionState.functionRegistry
    kernelNames.toSeq.flatMap(n =>
      reg.lookupFunction(FunctionIdentifier(n)).map(n -> _.getClassName)).toMap
  }

  test("GraftExtensions registers exactly the kernel table, and " +
       "VecFunctions.register installs the same entries and nothing else") {
    assert(extensionKernels.keySet == kernelNames)
    assert(extensionKernels.values.forall(_.startsWith("graft.functions.")))
    val s = spark.newSession()
    val before = s.sessionState.functionRegistry.listFunction().toSet
    VecFunctions.register(s)
    val added = s.sessionState.functionRegistry.listFunction().toSet -- before
    assert(added.map(_.funcName) == kernelNames)
    assert(kernelsOf(s) == extensionKernels)
  }

  test("with no explicit register call, Ctx and SessionIsolation.freshClone " +
       "each make a session resolve all 11 kernels") {
    val bare = spark.newSession()
    assert(kernelsOf(bare).isEmpty)
    val err = intercept[AnalysisException](bare.range(1).selectExpr("morton2(id, id)"))
    assert(err.getCondition == "UNRESOLVED_ROUTINE", err.getMessage)
    val viaCtx = spark.newSession()
    Ctx(viaCtx)
    assert(kernelsOf(viaCtx) == extensionKernels)
    // the clone's parent carries no kernels: the clone registers its own
    val viaClone = SessionIsolation.freshClone(spark.newSession())
    assert(kernelsOf(viaClone) == extensionKernels)
    val row = viaClone.range(1).selectExpr("morton2(id, id)",
      "vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head()
    assert(row.getLong(0) == 0L && row.getDouble(1) == 11.0)
  }

  test("VecFunctions.register leaves a session's own function of a kernel's " +
       "name in place and installs every other kernel") {
    val s = spark.newSession()
    s.udf.register("morton3", (a: Long, b: Long, c: Long) => a + b + c)
    VecFunctions.register(s)
    VecFunctions.register(s)
    assert(kernelsOf(s) - "morton3" == extensionKernels - "morton3")
    assert(s.range(1).selectExpr("morton3(1L, 2L, 3L)").head().getLong(0) == 6L)
  }
}
