package graft.tools

import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query scheduling and data-movement audit (dev probe, not driver
  * contract). After one warm pass of the whole list at sf0.001 (codegen +
  * JIT), each query runs once under a listener and prints one JSON line:
  * wall seconds, Spark jobs, stages and tasks, summed task run time,
  * shuffle write/read, spill and input bytes. Below it come the query's
  * stages grouped by call-site name (e.g. "localCheckpoint at
  * Graph.scala:152"), with run count, tasks, task time and shuffle MB: the
  * "which line of the operator costs what" view.
  *
  * Reading it: at sf0.1 the fixture is ~15 MB, so wall >> task_sec flags a
  * scheduling-bound query (a query that launches 40 jobs pays ~40 fixed
  * scheduling/collection latencies; fix: fewer jobs/stages), and wall ≈
  * task_sec / cores a compute-bound one (fix: cheaper operators). Shuffle
  * small next to the data means keys/sketches move, not the corpus.
  *
  * Metric semantics (measured r8): shuffle and spill are authoritative.
  * `input_bytes` is NOT a parquet-scan gauge: the local-fs vectorized
  * reader reports 0 through `inputMetrics`, while cached-block reads
  * (localCheckpoint pins) do count, so a large value flags cache re-read
  * traffic (e.g. graph_pagerank re-reading its pinned edges per round).
  *
  * Queries materialize with `count()`, as in graft.Bench, so a count's
  * column pruning applies to the audited plan too.
  *
  * Usage: runMain graft.tools.JobAudit [queryName...]   (default: catalog)
  * Env, with graft.Bench's defaults: SPARK_GRAFT_SF_DIR (the sf0.1
  *      fixture), SPARK_GRAFT_CPUS (4), SPARK_GRAFT_SHUFFLE_PARTS (the
  *      core count).
  */
object JobAudit {

  /** Totals of the completed stages that share one name. */
  private final class Stages {
    var runs = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    def add(o: Stages): Unit = {
      runs += o.runs; tasks += o.tasks; taskMs += o.taskMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; input += o.input
    }
  }

  /** Counts jobs and sums each completed stage's aggregated task metrics.
    * The listener bus delivers events on one thread; read the fields after
    * `CoreBridge.waitListeners`.
    */
  private final class Audit extends SparkListener {
    var jobs = 0L
    val byName = new scala.collection.mutable.LinkedHashMap[String, Stages]
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val s = byName.getOrElseUpdate(sc.stageInfo.name, new Stages)
      s.runs += 1
      s.tasks += sc.stageInfo.numTasks
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }
    def total: Stages = { val t = new Stages; byName.values.foreach(t.add); t }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Sessions.local(cpus.toInt, "graft-job-audit")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus))
    spark.sparkContext.setLogLevel("ERROR")

    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    val mb = 1048576.0
    val rows = names.map { name =>
      val audit = new Audit
      spark.sparkContext.addSparkListener(audit)
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(name)(spark, sfDir).count()
      finally {
        CoreBridge.waitListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(audit)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val t = audit.total
      println(f"""{"query":"$name","sec":$sec%.2f,"jobs":${audit.jobs},""" +
        f""""stages":${t.runs},"tasks":${t.tasks},"task_sec":${t.taskMs / 1e3}%.2f,""" +
        f""""shuffle_write_bytes":${t.shuffleWrite},"shuffle_read_bytes":${t.shuffleRead},""" +
        f""""spill_bytes":${t.spill},"input_bytes":${t.input}}""")
      audit.byName.toSeq.sortBy(-_._2.taskMs).foreach { case (stage, s) =>
        println(f"  x${s.runs}%-3d task_sec=${s.taskMs / 1e3}%7.2f tasks=${s.tasks}%4d " +
          f"shufWr=${s.shuffleWrite / mb}%6.1fMB shufRd=${s.shuffleRead / mb}%6.1fMB  $stage")
      }
      (name, sec, audit.jobs, t)
    }
    println("\nMost jobs:")
    rows.sortBy(-_._3).take(20).foreach { case (n, s, j, t) =>
      println(f"  $n%-30s jobs=$j%3d stages=${t.runs}%3d wall=$s%6.2f " +
        f"task_sec=${t.taskMs / 1e3}%7.2f shuffle_mb=${t.shuffleWrite / mb}%7.1f")
    }
    spark.stop()
    graft.TempStores.deleteAll()
  }
}
