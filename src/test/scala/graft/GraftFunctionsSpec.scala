package org.apache.spark.sql.graftshim

import graft.functions.{GraftExtensions, GraftFunctions}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** Both ways the SQL kernels reach a session: the session extension
  * (cluster deployments) and `GraftFunctions.register` (every query
  * builder). Lives in Spark's package to reach the `private[sql]`
  * `SparkSessionExtensions.registerFunctions`.
  */
class GraftFunctionsSpec extends AnyFunSuite {
  private val kernels = Seq("graft_polyhash32", "graft_bytehash32", "graft_dot",
    "graft_kmin", "graft_ws_tokens", "graft_mg", "graft_simhash64")

  test("GraftExtensions injects all seven kernels") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = ext.registerFunctions(new SimpleFunctionRegistry)
    kernels.foreach(n => assert(reg.functionExists(FunctionIdentifier(n)), n))
  }

  test("a second register keeps the first registration of every kernel") {
    val spark = graft.TestSpark.spark
    val reg = spark.sessionState.functionRegistry
    GraftFunctions.register(spark)
    val first = kernels.map { n =>
      val id = FunctionIdentifier(n)
      (n, reg.lookupFunction(id).get, reg.lookupFunctionBuilder(id).get)
    }
    GraftFunctions.register(spark)
    first.foreach { case (n, info, builder) =>
      val id = FunctionIdentifier(n)
      assert(reg.lookupFunction(id).get eq info, s"$n was registered again")
      assert(reg.lookupFunctionBuilder(id).get eq builder, n)
    }
  }
}
