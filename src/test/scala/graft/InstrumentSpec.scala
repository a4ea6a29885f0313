package graft

import graft.storage.IndexStore
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `Instrument` counts the work of each interval exactly, attributes a job
  * to the interval that holds its submit time, and sums the micro-batch
  * phases of a streaming drain. */
class InstrumentSpec extends SparkTestBase {

  private def noop(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def withInstrument[T](f: Instrument => T): T = {
    val inst = new Instrument(spark)
    try f(inst) finally inst.close()
  }

  private def counts(l: Instrument.Layers) =
    (l("spark.jobs"), l("spark.stages"), l("spark.tasks"))

  test("exact jobs, stages and tasks on deterministic plans") {
    withInstrument { inst =>
      val (_, scan) = inst.measure(noop(spark.range(0, 1000, 1, 4)))
      assert(counts(scan) == ((1L, 1L, 4L)))
      assert(scan("spark.shuffle_bytes") == 0L)

      // adaptive execution runs the map stage as its own job; the result
      // job's skipped copy of it runs no task
      val (_, agg) = inst.measure(noop(
        spark.range(0, 1000, 1, 4).groupBy(col("id") % 2).count()))
      assert(agg("spark.jobs") == 2L)
      assert(agg("spark.stages") == 2L)
      assert(agg("spark.tasks") == 4L + 1L, agg)
      assert(agg("spark.shuffle_bytes") > 0L)

      val dir = Files.createTempDirectory("graft-instr-scan").toString + "/t"
      spark.range(0, 500, 1, 2).write.parquet(dir)
      val (_, read) = inst.measure(noop(spark.read.schema("id long").parquet(dir)))
      assert(read("spark.input_records") == 500L)
      assert(read("spark.input_bytes") > 0L)
    }
  }

  test("back-to-back intervals share no job, and their sums equal the total") {
    withInstrument { outer =>
      withInstrument { inner =>
        val ((a, b, c), total) = outer.measure {
          val (_, a) = inner.measure(noop(spark.range(0, 100, 1, 3)))
          // the jobs that pool threads submit belong to the interval too
          val (_, b) = inner.measure(IndexStore.inParallel(Seq(
            () => noop(spark.range(0, 100, 1, 2)),
            () => noop(spark.range(0, 100, 1, 5)))))
          val (_, c) = inner.measure(noop(
            spark.range(0, 100, 1, 3).groupBy(col("id") % 3).count()))
          (a, b, c)
        }
        assert(counts(a) == ((1L, 1L, 3L)))
        assert(counts(b) == ((2L, 2L, 7L)))
        for (k <- Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_bytes"))
          assert(a(k) + b(k) + c(k) == total(k), k)
      }
    }
  }

  test("an AvailableNow drain of one file reports its batch and phases") {
    val src = Files.createTempDirectory("graft-instr-src").toString
    val ckpt = Files.createTempDirectory("graft-instr-ckpt").toString
    spark.range(0, 2000, 1, 1).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(src + "/in")
    withInstrument { inst =>
      val (_, l) = inst.measure {
        spark.readStream.schema("id long, k long").parquet(src + "/in")
          .groupBy(col("k")).count()
          .writeStream.format("noop").outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      assert(l("streaming.batches") >= 1L, l)
      assert(l("streaming.addBatch_ms") > 0L, l)
      assert(l("streaming.batch_ms") >= l("streaming.addBatch_ms"), l)
      assert(l("spark.jobs") >= 1L, l)
    }
  }

  test("driver time is wall time minus job time, never negative") {
    withInstrument { inst =>
      val samples = Seq(
        inst.measure(())._2,
        inst.measure(noop(spark.range(0, 100, 1, 2)))._2,
        inst.measure(Thread.sleep(30))._2)
      samples.foreach { l =>
        assert(l("spark.driver_ms") >= 0L, l)
        assert(l("spark.driver_ms") == math.max(0L, l("wall_ms") - l("spark.job_ms")), l)
      }
      assert(samples(2)("spark.driver_ms") >= 30L)
      assert(samples(0)("spark.jobs") == 0L)
    }
  }
}
