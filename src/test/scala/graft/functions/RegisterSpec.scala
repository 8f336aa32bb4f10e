package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.testutil.SparkTestBase

/** `GraftFunctions.register` is called from many operators per query; it
  * must inject each function once per session and leave an existing
  * registration alone (a replace logs a warning per function per call). */
class RegisterSpec extends SparkTestBase {

  private def ids = GraftFunctions.fns.map { case (name, _) => FunctionIdentifier(name) }

  test("a second register call leaves the session's registry untouched") {
    GraftFunctions.register(spark)
    val registry = spark.sessionState.functionRegistry
    val before = ids.map(id => id -> registry.lookupFunction(id).get)
    GraftFunctions.register(spark)
    before.foreach { case (id, info) =>
      assert(registry.lookupFunction(id).get eq info, s"${id.funcName} was re-registered")
    }
    assert(spark.experimental.extraOptimizations
      .count(_ == graft.plans.RowMajorOfCellIdRule) === 1)
  }

  test("a fresh session gets every function on its first register call") {
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    assert(ids.forall(id => !registry.functionExists(id)))
    GraftFunctions.register(fresh)
    ids.foreach(id => assert(registry.functionExists(id), id.funcName))
    assert(fresh.sql("SELECT cell_level(cell_id(405, -740, 6))").head().getInt(0) === 6)
  }
}
