package graft.gen

import org.apache.spark.scheduler._

/** Measurement harness for the optimization rounds (guide §1: measure
  * first): breaks a registered query's wall time into plan construction,
  * analysis+optimization, physical planning and execution, and reports
  * job/stage/task counts, summed task time and Janino compilation deltas
  * per phase. Runs in the shared [[graft.Harness]] session
  * (local[$SPARK_GRAFT_CPUS], shuffle.partitions=cpus), as Bench does. Usage:
  *   SPARK_GRAFT_ONLY=a,b sbt "runMain graft.gen.Profile"
  * Prints one line per query:
  *   [profile] name build=.. opt=.. plan=.. exec1=.. exec2=.. jobs=.. stages=..
  *             tasks=.. taskTime=..s codegenN=.. codegenMs=..
  * exec1 is the first (within-JVM-warm) run, exec2 a repeat — a large
  * exec1-exec2 gap is per-plan codegen/JIT, not data work.
  */
object Profile {
  private class Counts extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    val perStage = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int, Long)]()
    private val stageTime = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
      val t = Option(stageTime.get(s.stageInfo.stageId)).map(_.get).getOrElse(0L)
      perStage.put(s.stageInfo.stageId,
        (s.stageInfo.name.takeWhile(_ != '\n').take(90), s.stageInfo.numTasks, t))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) {
        taskTimeMs += t.taskMetrics.executorRunTime
        stageTime.computeIfAbsent(t.stageId,
          _ => new java.util.concurrent.atomic.AtomicLong)
          .addAndGet(t.taskMetrics.executorRunTime)
      }
    def reset(): Unit = {
      jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L
      perStage.clear(); stageTime.clear()
    }
    def topStages(n: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      perStage.asScala.toSeq.sortBy(-_._2._3).take(n).map {
        case (id, (name, nt, tt)) => f"    stage $id%4d ${tt / 1000.0}%8.1fs tasks=$nt%4d $name"
      }
    }
  }

  /** (compiles, total compile ms): Spark records each compile in ms. */
  private def codegenStats(): (Long, Double) = {
    val m = org.apache.spark.metrics.source.CodegenMetrics
    val h = m.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val counts = new Counts
    spark.sparkContext.addSparkListener(counts)
    val registry = graft.Harness.selected()
    // same warm-up as Bench so numbers line up
    graft.Harness.warm(spark, sfDir)
    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    registry.foreach { q =>
      val name = q.name
      try graft.Harness.fenced(spark) {
        val (cg0n, cg0ms) = codegenStats()
        counts.reset()
        val (df, tBuild) = t(q.run(spark, sfDir))
        val (_, tOpt) = t(df.queryExecution.optimizedPlan)
        val (_, tPlan) = t(df.queryExecution.executedPlan)
        val (_, tExec1) = t(df.queryExecution.toRdd.count())
        val jobs1 = counts.jobs; val stages1 = counts.stages
        val tasks1 = counts.tasks; val tt1 = counts.taskTimeMs
        val (cg1n, cg1ms) = codegenStats()
        counts.reset()
        val (df2, _) = t(q.run(spark, sfDir))
        val (_, tExec2) = t(df2.queryExecution.toRdd.count())
        val (cg2n, cg2ms) = codegenStats()
        println(f"[profile] $name%-28s build=$tBuild%6.2f opt=$tOpt%6.2f " +
          f"plan=$tPlan%6.2f exec1=$tExec1%6.2f exec2=$tExec2%6.2f " +
          f"jobs=$jobs1%3d stages=$stages1%3d tasks=$tasks1%5d " +
          f"taskTime=${tt1 / 1000.0}%7.1fs " +
          f"cgN1=${cg1n - cg0n}%3d cgMs1=${cg1ms - cg0ms}%7.0f " +
          f"cgN2=${cg2n - cg1n}%3d cgMs2=${cg2ms - cg1ms}%7.0f")
        if (sys.env.get("SPARK_GRAFT_PROFILE_STAGES").exists(_.nonEmpty))
          counts.topStages(sys.env("SPARK_GRAFT_PROFILE_STAGES").toInt)
            .foreach(println)
      } catch {
        case t: Throwable if graft.Harness.recoverable(t) =>
          println(s"[profile] $name FAILED: ${t.getMessage}")
      }
    }
    spark.stop()
  }
}
