package perfbench

/** Per-layer figures derived from job spans and stage metrics. */
object Layers {

  /** Milliseconds of wall clock during which at least one of `jobs` ran. */
  def covered(jobs: Seq[JobListener.Job]): Double = {
    val iv = jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce))            => total += ce - cs; cur = Some((s, e))
        case None                      => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total.toDouble
  }

  /** Task-time skew of a layer: max ÷ median task time in its dominant
    * Spark stage (the one with the most task time among those with at
    * least two tasks); 1 when no stage has two tasks.
    */
  def skew(stages: Seq[JobListener.StageAgg]): Double = {
    val multi = stages.filter(_.taskMs.size >= 2)
    if (multi.isEmpty) 1.0
    else {
      val ts = multi.maxBy(_.runMs).taskMs.map(_.toDouble)
      ts.max / math.max(Stats.median(ts), 1.0)
    }
  }
}
