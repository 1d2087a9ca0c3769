package graft.api

import org.apache.spark.sql.GraftPlanBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal

import graft.SparkSpec
import graft.functions.GraftFunctions

/** The cluster-deployment story (R9): one `spark.sql.extensions=
  * graft.api.GraftExtensions` conf must carry the WHOLE engine surface —
  * every function of the `GraftFunctions` table, planner strategies for
  * the custom nodes, and the pushdown and summary rules — with no
  * driver-code wiring. The fresh child session below is built by the
  * extension alone and never sees `GraftFunctions.register`. */
class ExtensionsSpec extends SparkSpec {

  private lazy val fresh = spark.newSession()

  test("extensions inject the custom operator strategies and rules") {
    val (strategies, rules) = GraftPlanBridge
      .buildExtensionParts(new GraftExtensions, spark)
    assert(strategies.contains(graft.plans.TopKPerGroupStrategy))
    assert(strategies.contains(graft.plans.AsOfJoinStrategy))
    assert(rules.contains(graft.plans.PushFilterThroughTopKPerGroup))
    assert(rules.contains(graft.plans.PushFilterThroughAsOfJoin))
    assert(GraftPlanBridge.optimizerRules(fresh)
      .exists(_.isInstanceOf[graft.plans.RewriteAggregateToSummary]))
  }

  test("the session's query-stage prep rules carry the local " +
      "broadcast rule") {
    assert(GraftPlanBridge.queryStagePrepRules(fresh)
      .contains(org.apache.spark.sql.JobFreeLocalBroadcast))
  }

  test("an extension-only session resolves every table function") {
    val missing = GraftFunctions.builders.keys.toSeq.sorted
      .filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved: ${missing.mkString(", ")}")
  }

  test("one SQL call per family runs on an extension-only session") {
    val vec = fresh.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head()
    assert(vec.getDouble(0) === 1.0)
    val sketch = fresh.sql(
      "SELECT kmv_distinct(id, 64) AS n FROM range(10)").head()
    assert(sketch.getLong(0) === 10L)
    val gen = fresh.sql(
      "SELECT ngram_hashes_gen('a b c', 2)").collect()
    assert(gen.nonEmpty)
  }

  test("the SparkEntry seam re-attaches a surface the session lacks") {
    val child = spark.newSession()
    child.sessionState.functionRegistry
      .dropFunction(FunctionIdentifier("ngram_hashes_gen"))
    assert(!child.catalog.functionExists("ngram_hashes_gen"))
    graft.SparkEntry.entry(child)
    assert(child.catalog.functionExists("ngram_hashes_gen"))
    assert(child.experimental.extraStrategies
      .contains(graft.plans.TopKPerGroupStrategy))
  }

  test("injected minhash_sig builder accepts BIGINT literals") {
    // SQL integer literals can resolve as BIGINT; the injected builder
    // coerces them exactly like the table path, because it IS the table
    val n = fresh.sql(
      "SELECT size(minhash_sig(array('a','b'), 8L)) AS n").head().getInt(0)
    assert(n === 8)
  }

  test("injected minhash_sig rejects a DOUBLE like the table path") {
    val table = intercept[IllegalArgumentException](
      GraftFunctions.builders("minhash_sig")(
        Seq(Literal.create(Seq("a")), Literal(8.5d))))
    val viaSql = intercept[IllegalArgumentException](
      fresh.sql("SELECT minhash_sig(array('a'), 8.5D)").collect())
    assert(viaSql.getMessage === table.getMessage)
  }
}
