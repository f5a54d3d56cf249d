package graft

import org.apache.spark.sql.graftnative.GraftNative

/** [[EngineSession.tune]] on a session that already has the engine's SQL
  * functions: it fills in only the names that are missing and leaves the
  * others as they were, so tuning twice is a no-op on the registry.
  * Either way each name reports the expression class it builds.
  */
class EngineSessionSpec extends SparkSpec {

  test("tune registers only the missing graft_* functions; a second tune changes nothing") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val ids = GraftNative.sqlFunctions.map(_.id)
    val injected = ids.map(registry.lookupFunction(_).get)
    registry.dropFunction(ids.head)
    EngineSession.tune(s)
    val once = ids.map(registry.lookupFunction)
    assert(once.forall(_.isDefined), s"missing after tune: ${ids.zip(once).filter(_._2.isEmpty)}")
    // registered names keep their ExpressionInfo instance: nothing replaced
    ids.tail.zip(injected.tail).zip(once.tail).foreach { case ((id, before), after) =>
      assert(after.get eq before, s"tune replaced $id")
    }
    EngineSession.tune(s)
    ids.zip(once).foreach { case (id, first) =>
      assert(registry.lookupFunction(id).get eq first.get, s"second tune replaced $id")
    }
    assert(s.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d))").head().getDouble(0) == 11.0)
  }

  test("every graft_* name resolves to its expression class, built in or added by tune") {
    val expected = GraftNative.sqlFunctions.map(f => f.name -> f.cls.getCanonicalName)
    def resolved(s: org.apache.spark.sql.SparkSession) = GraftNative.sqlFunctions.map(f =>
      f.name -> s.sessionState.catalog.lookupFunctionInfo(f.id).getClassName)
    assert(resolved(spark) == expected)
    // a session without the extension's names, as one built elsewhere has
    val plain = spark.newSession()
    val registry = plain.sessionState.functionRegistry
    GraftNative.sqlFunctions.foreach(f => registry.dropFunction(f.id))
    assert(GraftNative.sqlFunctions.forall(f => !registry.functionExists(f.id)))
    EngineSession.tune(plain)
    assert(resolved(plain) == expected)
  }
}
