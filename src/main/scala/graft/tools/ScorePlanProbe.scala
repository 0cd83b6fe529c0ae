package graft.tools

import org.apache.spark.sql.functions._

/** Evidence probe for the `scored` cache of the linkage operator chain
  * (`LinkagePipeline.inMemory`): with no materialization boundary
  * between scoring and the argmax consumer, the optimizer collapses the
  * scoring projection into BOTH the filter
  * (`score >= 0.5`) and the `min_by` sort key (`-score`), so the expensive
  * feature expressions appear (and execute) multiple times in the physical
  * plan. Prints the count of `levenshtein` occurrences in each formatted
  * plan — cached boundary vs fused — plus the fused plan itself.
  */
object ScorePlanProbe {
  def main(args: Array[String]): Unit = {
    Scaling.withSession(4) { spark =>
      implicit val s: org.apache.spark.sql.SparkSession = spark
      import spark.implicits._
      // a real (non-local) source so the optimizer cannot constant-fold the
      // scoring into a LocalTableScan
      val pairs = spark.range(100)
        .select(concat(lit("s:n"), col("id")).as("a"),
          concat(lit("t:n"), (col("id") + 1)).as("b"),
          concat(lit("n"), col("id")).as("norm_a"),
          concat(lit("n"), (col("id") + 1)).as("norm_b"))
      val scored = graft.operators.PairwiseScoring.scoreInline(pairs)
      val fusedPlan = graft.plans.LinkagePipeline
        .argmaxEdges(scored).queryExecution.executedPlan.toString
      val cached = graft.plans.Materialize.cache(scored)
      val cachedPlan = graft.plans.LinkagePipeline
        .argmaxEdges(cached).queryExecution.executedPlan.toString
      def levs(p: String) = "levenshtein".r.findAllIn(p).size
      println(s"[plan-probe] levenshtein occurrences: fused=${levs(fusedPlan)} cached=${levs(cachedPlan)}")
      println("[plan-probe] fused plan:")
      println(fusedPlan.linesIterator.take(40).mkString("\n"))
      // variant: min(struct(ns, b)) instead of min_by — same argmax semantics
      // (lexicographic struct ordering = score DESC, b ASC), different agg exec?
      val alt = cached
        .filter(col("a").startsWith("s:") && col("b").startsWith("t:") &&
          col("score") >= 0.5)
        .groupBy(col("a"))
        .agg(min(struct(negate(col("score")).as("ns"), col("b"))).as("m"))
        .select(col("a"), col("m.b").as("b"))
      println("[plan-probe] min(struct) plan:")
      println(alt.queryExecution.executedPlan.toString.linesIterator.take(12).mkString("\n"))
    }
  }
}
