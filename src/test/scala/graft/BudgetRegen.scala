package graft

/** Regenerates the literal budget maps for [[ExchangeBudgetSpec]] and
  * [[ScanBudgetSpec]] after a deliberate plan change:
  *
  * {{{
  * sbt -batch "Test/runMain graft.BudgetRegen"
  * }}}
  *
  * Paste the printed blocks over the corresponding `budgets` and
  * `spreadBudgets` literals (and
  * re-argue any loosened entry in the commit message — the nets exist so a
  * new shuffle/scan is a conscious decision, not drift).
  */
object BudgetRegen {
  def main(args: Array[String]): Unit = {
    val shuffle   = "\\bExchange\\b".r
    val broadcast = "\\bBroadcastExchange\\b".r
    val scanToken = "\\bFileScan\\b".r
    val plans = SurfacePlans.plans.toSeq.sortBy(_._1)
    def exchanges(p: String) = (shuffle.findAllIn(p).size, broadcast.findAllIn(p).size)
    println("// ExchangeBudgetSpec.budgets")
    for ((name, p) <- plans)
      println(s"""    "$name" -> ${exchanges(p)},""")
    println("// ExchangeBudgetSpec.spreadBudgets")
    for ((name, p) <- plans if name.endsWith("_documents") || name.endsWith("_embeddings"))
      scala.util.Try(SparkEntry.queries(name)(SparkTestBase.spark, PlacementSpec.padded).queryExecution.executedPlan.toString) match {
        case scala.util.Success(q) => if (exchanges(q) != exchanges(p)) println(s"""    "$name" -> ${exchanges(q)},""")
        case scala.util.Failure(e) => println(s"    // $name does not plan over the padded dir: ${e.getMessage.takeWhile(_ != '\n')}")
      }
    println("// ScanBudgetSpec.budgets")
    for ((name, p) <- plans)
      println(s"""    "$name" -> (${scanToken.findAllIn(p).size}, ${ScanBudget.readFields(p)}),""")
  }
}
