package graft

import java.util.concurrent.CyclicBarrier

/** Attribution of the one Spark work collector: per job group, with a
  * sentinel-job barrier, "" for jobs submitted without a group, and the
  * caller's job group restored after each measurement.
  */
class SparkWorkSpec extends SparkSpec {

  private def withWork(f: SparkWork => Unit): Unit = {
    val work = new SparkWork(spark.sparkContext)
    try f(work) finally work.close()
  }

  test("a 2-stage groupBy: one job, two stages, every task, shuffle bytes") {
    withWork { work =>
      val sc = spark.sparkContext
      val (groups, _, w) = work.measure("sw-groupby") {
        sc.parallelize(1 to 1000, 4).groupBy(_ % 10, 3).count()
      }
      assert(groups == 10)
      assert((w.jobs, w.stages, w.tasks) == (1, 2, 7), w)
      assert(w.shuffleWriteBytes > 0 && w.shuffleReadBytes > 0, w)
      assert(w.spillBytes == 0, w)
    }
  }

  test("peak memory is one task's peak: 8 partitions of the same rows " +
       "peak as high as 1 partition, not 8 times higher") {
    withWork { work =>
      // each task sorts the same number of longs in memory
      def peak(partitions: Int): Long = work.measure(s"sw-peak-$partitions") {
        spark.range(0, 20000L * partitions, 1, partitions)
          .sortWithinPartitions(org.apache.spark.sql.functions.col("id").desc)
          .write.format("noop").mode("overwrite").save()
      }._3.peakExecMemBytes
      val one = peak(1)
      assert(one > 0)
      assert(peak(8) == one)
    }
  }

  test("two threads measuring under different groups do not mix their work") {
    withWork { work =>
      val sc = spark.sparkContext
      val start = new CyclicBarrier(2)
      def run(group: String, partitions: Int): SparkWork.Work = {
        start.await()
        work.measure(group) {
          (1 to 2).foreach { _ =>
            sc.parallelize(1 to 100, partitions).map { i => Thread.sleep(1); i }.count()
          }
        }._3
      }
      var wa = SparkWork.Work()
      val ta = new Thread(() => wa = run("sw-thread-a", 3))
      ta.start()
      val wb = run("sw-thread-b", 5)
      ta.join()
      assert((wa.jobs, wa.stages, wa.tasks) == (2, 2, 6), wa)
      assert((wb.jobs, wb.stages, wb.tasks) == (2, 2, 10), wb)
    }
  }

  test("a job from a thread with no job group lands in the \"\" bucket") {
    withWork { work =>
      val sc = spark.sparkContext
      work.take("")
      val t = new Thread(() => {
        sc.clearJobGroup()
        sc.parallelize(1 to 10, 2).count()
      })
      t.start()
      t.join()
      val w = work.take("")
      assert((w.jobs, w.stages, w.tasks) == (1, 1, 2), w)
    }
  }

  test("measure restores the caller's earlier job group") {
    withWork { work =>
      val sc = spark.sparkContext
      val (_, _, outer) = work.measure("sw-outer") {
        val (_, _, inner) = work.measure("sw-inner")(sc.parallelize(1 to 4, 1).count())
        assert(inner.jobs == 1, inner)
        // runs in sw-outer again, not in no group
        sc.parallelize(1 to 4, 2).count()
      }
      assert((outer.jobs, outer.tasks) == (1, 2), outer)
      assert(work.take("sw-inner") == SparkWork.Work())
      // and after the outer measure, no group again
      work.take("")
      sc.parallelize(1 to 4, 1).count()
      assert(work.take("").jobs == 1)
      assert(work.take("sw-outer") == SparkWork.Work())
    }
  }
}
