package graft

/** Registry-wide empty-input gate: every registered query must PLAN
  * and EXECUTE against a schema-identical but zero-row copy of all ten
  * tables without throwing. At 100 TB an empty input is not an edge
  * case — a new tenant, a fresh partition, a filtered-to-nothing
  * source, the first micro-batch of a backfill — and the risky shapes
  * are exactly the ones a full-corpus oracle never exercises: fixpoint
  * loops (must terminate at round 0), driver-side scalar reads (a
  * head() on an empty aggregate is a crash), divisors derived from
  * min/max ids, and sort-prefix math over zero rows. The gate is
  * intentionally coarse (no result assertion beyond "a row count
  * exists") so it stays cheap enough to run over all 280+ queries. */
class DegenerateInputSpec extends SparkSpec {

  test("every registered query executes on zero-row tables") {
    val emptyDir =
      java.nio.file.Files.createTempDirectory("graft-empty").toString
    Tables.names.foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .limit(0).write.mode("overwrite")
        .parquet(s"$emptyDir/$t.parquet")
    }
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val r =
          try { fn(spark, emptyDir).count(); None }
          catch { case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(200))
          }
        graft.operators.SharedStage.sweep(spark, keepCores = false)
        r
    }
    assert(failures.isEmpty,
      s"\n${failures.size} queries crash on empty input:\n" +
        failures.mkString("\n"))
  }
}
