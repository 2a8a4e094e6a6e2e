package graft.queries
import org.apache.spark.sql.execution.ExplainMode
object PlanProbe {
  def main(a: Array[String]): Unit = {
    val spark = graft.Graft.session("plan-probe")
    val name = a(0)
    val df = (CoreQueries.all ++ ExtQueries.all)(name)(spark, "/root/testdata/sf0.001")
    df.collect()
    println("=== FORMATTED " + name + " ===")
    println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
