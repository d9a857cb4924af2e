package graft

/** The measurement CLI's default names must keep resolving: each bench-only
  * shape or SparkEntry query in `query` / `plan` builds a frame that
  * analyzes. Plans only — nothing is collected or written (building the
  * CC-backed frames runs their connected-components fixpoint). */
class LayersSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("every default query/plan name resolves to an analyzed DataFrame") {
    val names = (Layers.queryDefaults ++ Layers.planDefaults).distinct
    names.foreach { name =>
      val df = Layers.frame(spark, sf, name)
      df.queryExecution.assertAnalyzed()
      assert(df.schema.nonEmpty, name)
    }
  }

  test("no bench-only shape shadows a SparkEntry query of the same name") {
    assert(Layers.shapes(spark, sf).keySet
      .intersect(SparkEntry.queries.keySet).isEmpty)
  }
}
