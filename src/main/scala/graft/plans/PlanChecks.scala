package graft.plans

/** Physical-plan shape checks shared by the flat-plan gates (the
  * TrainingCorpus capstone spec; PERF_NOTES "TrainingCorpus.build
  * end-to-end at sf1") and ad-hoc tooling.
  *
  * Spark prints physical nodes WITHOUT the `Exec` suffix (`WindowExec` →
  * `Window`), so a scan greping "WindowExec" never fires — a silent
  * false-green this object replaces. A window node prints
  * `Window [exprs], [partitionSpec], [orderSpec]` when partitioned and
  * `Window [exprs], [orderSpec]` when GLOBAL (empty partition spec): the
  * global form funnels the entire input through one task and is the shape
  * that does not survive a 100× scale-up. Partitioned windows are fine —
  * a task sees one key group.
  */
object PlanChecks {

  /** True when `line` is a physical Window node with an EMPTY partition
    * spec. `WindowGroupLimit` lines don't match the `"Window ["` anchor.
    *
    * TreeNode.argString OMITS empty child seqs, so a two-bracket-group
    * line is ambiguous: `Window [exprs], [orderSpec]` (global — flag it)
    * and `Window [exprs], [partitionSpec]` (partitioned, unordered total —
    * perfectly scalable) print identically in shape. Order-spec entries
    * carry a sort direction (`x ASC NULLS FIRST`) while partition specs
    * are bare expressions, so the direction token disambiguates.
    */
  def isGlobalWindowLine(line: String): Boolean = {
    val i = line.indexOf("Window [")
    if (i < 0) return false
    val groups = line.substring(i).split("\\], \\[")
    if (groups.length >= 3) false // both partition and order specs present
    else if (groups.length == 2)
      groups(1).contains(" ASC") || groups(1).contains(" DESC")
    else true // bare `Window [exprs]` — no partition spec at all
  }

  /** Scale-killer shapes in a physical plan string: cartesian products
    * and global (single-partition) windows. Returns one tag per finding,
    * empty = flat.
    */
  def scaleViolations(plan: String): Seq[String] = {
    val cartesian =
      if (plan.contains("CartesianProduct")) Seq("CartesianProduct") else Nil
    val globalWindows = plan.linesIterator
      .filter(isGlobalWindowLine)
      .map(l => "GlobalWindow: " + l.trim.take(120))
      .toSeq
    cartesian ++ globalWindows
  }
}
