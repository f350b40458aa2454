package graft.ops

import graft.SparkSpec
import org.apache.spark.TaskContext
import org.apache.spark.sql.Encoders

class LocalGateSpec extends SparkSpec {

  test("fits: exactly max rows is taken, max + 1 is declined") {
    val df = spark.range(0, 100, 1, 8).toDF("id")
    assert(LocalGate.fits(df, 100, "graph"))
    assert(!LocalGate.fits(df, 99, "graph"))
    assert(!LocalGate.fits(df, 0, "graph"))
    assert(LocalGate.fits(df.filter("id < 0"), 0, "graph"), "an empty input fits any gate")
    assert(LocalGate.fits(df.limit(0), 0, "graph"), "a zero-partition input fits any gate")
  }

  test("fits: one Spark job on a checkpointed input") {
    val ck = spark.range(0, 1000, 1, 8).toDF("id").localCheckpoint()
    val sc = spark.sparkContext
    sc.setJobGroup("local-gate-jobs", "probe")
    try {
      assert(LocalGate.fits(ck, 1000, "graph"))
      assert(!LocalGate.fits(ck, 10, "graph"))
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("local-gate-jobs").length == 2)
  }

  test("declined probe: no task pulls more than max + 1 rows, the job stops early") {
    val parts = 64
    val perPart = 1000L
    val max = 10L
    val sc = spark.sparkContext
    val pulled = sc.longAccumulator("local-gate-pulled")
    val perTask = sc.collectionAccumulator[java.lang.Long]("local-gate-per-task")
    // every pulled row is counted on the task's way out; the sleep
    // keeps a task slower than the driver's cancel, so the rest of the
    // job is cut off instead of racing to completion
    val counted = spark.range(0, parts * perPart, 1, parts).mapPartitions { rows =>
      var n = 0L
      TaskContext.get().addTaskCompletionListener[Unit](_ => perTask.add(n))
      rows.map { r => n += 1; pulled.add(1); Thread.sleep(2); r }
    }(Encoders.LONG).toDF("id")
    assert(!LocalGate.fits(counted, max, "graph"))
    val tasks = perTask.value
    assert(!tasks.isEmpty)
    tasks.forEach(n => assert(n.longValue <= max + 1, s"a task pulled $n rows, cap ${max + 1}"))
    assert(tasks.size < parts, s"${tasks.size} of $parts tasks ran: the probe was not cancelled")
    assert(pulled.value < parts * perPart)
  }

  test("declining: forces the named twins to decline on this thread, then restores them") {
    val df = spark.range(0, 10).toDF("id")
    LocalGate.declining("spearman") {
      assert(!LocalGate.fits(df, 100, "spearman"))
      assert(LocalGate.fits(df, 100, "prefixSum"), "other twins keep their gates")
      LocalGate.declining("prefixSum") {
        assert(!LocalGate.fits(df, 100, "prefixSum"))
        assert(!LocalGate.fits(df, 100, "spearman"))
      }
      assert(LocalGate.fits(df, 100, "prefixSum"))
    }
    assert(LocalGate.fits(df, 100, "spearman"))
    intercept[IllegalArgumentException](LocalGate.declining("nope")(()))
    intercept[IllegalArgumentException](LocalGate.fits(df, 100, "nope"))
  }
}
