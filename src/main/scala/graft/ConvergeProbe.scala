package graft

/** Rounds-to-convergence probe for the converged graph tiers
  * (`runMain graft.ConvergeProbe [factors]`, default `1,10`) — the
  * round-11 companion measurement to [[ScaleProbe]]'s wall-clock rows.
  *
  * The claim under test: rounds-to-convergence is a property of the
  * graph's STRUCTURE, not its size. The probe's scaled corpora are
  * disjoint isomorphic replicas (ScaleProbe key shift), so
  * `convergedLabelProp` / `kcoreFixpoint` must stop after exactly the
  * same number of rounds at every factor — each round acts on every
  * replica in parallel, and the per-replica fixpoint is the base
  * graph's. A factor-dependent round count here would mean the copies
  * interact (a key-shift bug) or the stop condition is data-size
  * sensitive (an algorithm bug).
  *
  * Reuses `/tmp/graft-scale-<f>` corpora when a prior ScaleProbe run
  * left them behind; synthesizes them otherwise. */
object ConvergeProbe {

  def main(args: Array[String]): Unit = {
    val factors = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 10)).distinct
    val spark = Session(Session.cores)
    val base = "/root/testdata/sf0.1"
    factors.foreach { f =>
      val dir = s"/tmp/graft-scale-$f"
      val li = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
      if (!li.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(li))
        ScaleProbe.scaledLineitem(spark, base, f).write.mode("overwrite")
          .parquet(s"$dir/lineitem.parquet")
      var t0 = System.nanoTime()
      val (labels, lpaRounds) = ext.Graph.convergedLabelProp(spark, dir)
      val lpaNodes = labels.count()
      val lpaSec = (System.nanoTime() - t0) / 1e9
      labels.unpersist()
      println(f"""{"probe":"converge","op":"lpa","factor":$f,"rounds":$lpaRounds,"nodes":$lpaNodes,"sec":$lpaSec%.3f}""")
      t0 = System.nanoTime()
      val (core, coreRounds) = ext.Graph.kcoreFixpoint(spark, dir)
      val coreNodes = core.count()
      val coreSec = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"converge","op":"kcore","factor":$f,"rounds":$coreRounds,"nodes":$coreNodes,"sec":$coreSec%.3f}""")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
