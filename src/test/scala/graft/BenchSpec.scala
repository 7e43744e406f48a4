package graft

import org.apache.spark.sql.functions.col

class BenchSpec extends SparkSpec {
  test("a query failing one run shows in err_runs and n_errors; counters are its fastest run's") {
    var calls = 0
    val flaky: Bench.Query = (s, _) => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("second call fails")
      // build: one 2-task job; exec: one 2-task job
      s.sparkContext.parallelize(1 to 4, 2).count()
      s.range(0, 8, 1, 2).toDF()
    }
    val steady: Bench.Query = (s, _) => s.range(0, 8, 1, 2).toDF()
    val outcomes = Bench.timeQueries(spark, sfDir, Seq("flaky" -> flaky, "steady" -> steady), 3)
    assert(calls == 3)
    val byName = outcomes.toMap
    assert(byName("flaky").errRuns == 1)
    assert(byName("flaky").error.contains("second call fails"))
    assert(byName("steady").errRuns == 0)
    val run = byName("flaky").best.get
    assert((run.jobs, run.stages, run.tasks) == (2L, 2L, 4L))
    assert(run.sec == run.buildS + run.execS)

    val (full, chunks, summary) = Bench.report(sfDir, 3, "out.json", outcomes,
      Seq(0.5, 0.1), Nil, Map.empty)
    import spark.implicits._
    val r = spark.read.json(Seq(full).toDS()).head()
    assert(r.getAs[Long]("n_errors") == 1L)
    assert(r.getAs[Double]("floor_sec") == 0.3)
    assert(r.getAs[org.apache.spark.sql.Row]("errors").getAs[String]("flaky") == "second call fails")
    val detail = spark.read.json(Seq(full).toDS()).select(
      col("detail.flaky.err_runs"), col("detail.flaky.jobs"), col("detail.flaky.tasks"),
      col("detail.steady.err_runs"), col("detail.steady.jobs")).head()
    assert(detail.toSeq == Seq(1L, 2L, 4L, 0L, 1L))
    val s = spark.read.json(Seq(summary).toDS()).head()
    assert(s.getAs[Long]("n_errors") == 1L)
    assert(s.getAs[org.apache.spark.sql.Row]("err_runs").getAs[Long]("flaky") == 1L)
    assert(chunks.size == 1 && chunks.head.contains("\"flaky\":"))
  }
}
