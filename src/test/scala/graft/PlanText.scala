package graft

/** Plan-text helpers shared by the plan-audit specs. */
object PlanText {
  /** What an executed plan ran: its text without any `== Initial Plan ==`
    * section. AQE prints the root's final plan and then its initial plan,
    * and a persisted relation inside the plan prints its own adaptive plan
    * the same way, indented. Each initial section re-describes the final
    * one above it, so it is dropped, header and all deeper-indented lines;
    * the plan text after a nested cached plan stays in. A plan without
    * AQE headers is returned whole.
    */
  def finalPlan(plan: String): String = {
    def lead(line: String) = line.indexWhere(c => c != ' ' && c != ':')
    val out = new StringBuilder
    var skipping = -1 // lead of the initial-section header being skipped
    for (line <- plan.linesIterator) {
      if (skipping < 0 || lead(line) <= skipping) {
        skipping = -1
        if (line.drop(lead(line)) == "+- == Initial Plan ==") skipping = lead(line)
        else out.append(line).append('\n')
      }
    }
    out.result()
  }
}
