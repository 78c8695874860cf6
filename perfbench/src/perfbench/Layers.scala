package perfbench

/** Per-layer metrics of a traced run, from the recorder's per-tag counters
  * and the harness's op records. Every name in [[names]] is reported on every
  * workload; a layer the workload does not exercise reads 0.
  *
  * Tags are `pb-<pass>-<key>`: `p0` is the first pass, warm passes are
  * traced or untraced (for the overhead comparison), `ct` is the
  * one-constraint-per-op pass and `memo` its rerun on the same objects.
  */
object Layers {
  private val stages = Seq("gate", "neardup")

  /** Constraint classes of the suite, for the per-family job counts. */
  val families: Seq[String] =
    Suites.specs
      .flatMap(s => s.build("", s.adds.indices).constraints.map(_.getClass.getSimpleName))
      .distinct.sorted

  val names: Seq[(String, String)] = Seq(
    "requirements.test_s" -> "s",
    "requirements.scans_per_table" -> "count",
    "constraints.jobs_per_constraint" -> "count",
    "constraints.stages_per_constraint" -> "count",
    "constraints.test_ms" -> "ms",
    "constraints.fail_test_ms" -> "ms",
    "constraints.memo_rerun_jobs" -> "count") ++
    families.map(f => s"constraints.jobs.$f" -> "count") ++
    stages.map(s => s"ops.stage_s.$s" -> "s") ++ Seq(
    "ops.recompute_ratio" -> "ratio",
    "ops.shuffle_write_mb" -> "MB",
    "ops.spill_mb" -> "MB",
    "functions.minhash_docs_per_s" -> "1/s",
    "core.blocks_peak_mb" -> "MB",
    "session.jobs" -> "count",
    "session.stages" -> "count",
    "session.tasks" -> "count",
    "session.executor_busy_frac" -> "ratio",
    "session.gc_s" -> "s",
    "session.planning_s" -> "s",
    "trace.traced_pass_s" -> "s",
    "trace.untraced_pass_s" -> "s")

  private def sum(cs: Iterable[Counters])(f: Counters => Long): Long = cs.iterator.map(f).sum
  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private val MB = 1048576.0

  def metrics(
      rec: Recorder,
      h: Harness,
      passes: Seq[Pass],
      cores: Int,
      minhashDocsPerS: Double): Seq[(String, (Double, String))] = {
    def tagged(pass: String): Seq[Counters] =
      rec.byTag.collect { case (t, c) if t.startsWith(s"pb-$pass-") => c }.toSeq
    def counter(pass: String, key: String): Counters =
      rec.byTag.getOrElse(s"pb-$pass-$key", new Counters)
    val warm = passes.filter(_.name != "p0")
    val (traced, untraced) = warm.partition(_.traced)
    val tracedNames = traced.map(_.name).toSet
    def perPass(f: (String, Double, Seq[Counters]) => Double): Double =
      Stats.median(traced.map(p => f(p.name, p.s, tagged(p.name))))
    val warmOps = h.samples.filter(s => tracedNames(s.pass))

    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    v("requirements.test_s") =
      Stats.median(warmOps.filter(_.key.startsWith("r")).map(_.ms / 1e3).toSeq)
    v("requirements.scans_per_table") = perPass { (_, _, cs) =>
      val byTable = cs.flatMap(_.scans.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
      if (byTable.isEmpty) 0.0 else byTable.values.sum.toDouble / byTable.size
    }

    val ct = h.samples.filter(_.pass == "ct")
    val failing = h.outcomes.collect { case (k, (_, _, false, _)) => k }.toSet
    v("constraints.jobs_per_constraint") = mean(ct.map(s => counter("ct", s.key).jobs.toDouble))
    v("constraints.stages_per_constraint") = mean(ct.map(s => counter("ct", s.key).stages.toDouble))
    v("constraints.test_ms") = Stats.median(ct.map(_.ms).toSeq)
    v("constraints.fail_test_ms") = Stats.median(ct.filter(s => failing(s.key)).map(_.ms).toSeq)
    v("constraints.memo_rerun_jobs") = sum(tagged("memo"))(_.jobs).toDouble
    val familyOf = h.outcomes.map { case (k, (f, _, _, _)) => k -> f }
    for (f <- families)
      v(s"constraints.jobs.$f") =
        mean(ct.filter(s => familyOf.get(s.key).contains(f)).map(s => counter("ct", s.key).jobs.toDouble))

    for ((s, i) <- stages.zipWithIndex)
      v(s"ops.stage_s.$s") =
        Stats.median(warmOps.filter(_.key == s"s$i.$s").map(_.ms / 1e3).toSeq)
    v("ops.recompute_ratio") = perPass { (p, _, _) =>
      val perStage = stages.indices.map(i => counter(p, s"s$i.${stages(i)}").scanRows("documents"))
      if (perStage.forall(_ == 0)) 0.0 else mean(perStage.map(_.toDouble / DataGen.NDocs))
    }
    v("ops.shuffle_write_mb") = perPass((_, _, cs) => sum(cs)(_.shuffleWrite) / MB)
    v("ops.spill_mb") = perPass((_, _, cs) => sum(cs)(_.spill) / MB)
    v("functions.minhash_docs_per_s") = minhashDocsPerS
    v("core.blocks_peak_mb") = h.blocksPeakBytes / MB

    v("session.jobs") = perPass((_, _, cs) => sum(cs)(_.jobs).toDouble)
    v("session.stages") = perPass((_, _, cs) => sum(cs)(_.stages).toDouble)
    v("session.tasks") = perPass((_, _, cs) => sum(cs)(_.tasks).toDouble)
    v("session.executor_busy_frac") = perPass((_, s, cs) => sum(cs)(_.runMs) / (s * 1e3 * cores))
    v("session.gc_s") = Stats.median(traced.map(_.gcS))
    v("session.planning_s") = perPass((_, _, cs) => sum(cs)(_.planMs) / 1e3)
    v("trace.traced_pass_s") = Stats.median(traced.map(_.s))
    v("trace.untraced_pass_s") = Stats.median(untraced.map(_.s))

    names.map { case (n, unit) => n -> (v.getOrElse(n, 0.0), unit) }
  }

  /** Per-op counters of the first two passes and the constraint passes:
    * tag -> [jobs, stages, tasks, shuffle-write bytes, input rows].
    */
  def opsJson(rec: Recorder): String =
    rec.byTag.toSeq
      .filter { case (t, _) => Seq("pb-p0-", "pb-p1-", "pb-ct-", "pb-memo-").exists(t.startsWith) }
      .map { case (t, c) => s"\"$t\":[${c.jobs},${c.stages},${c.tasks},${c.shuffleWrite},${c.inputRows}]" }
      .mkString("{", ",", "}")
}
