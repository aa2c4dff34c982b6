package graft
import org.apache.spark.sql.SparkSession

/** A/B measurement harness for optimization work — NOT the driver's bench
  * (Bench.scala is frozen; this main exists so per-query effects can be
  * separated from the host's sub-minute capacity flapping, BENCH/BASELINE.md
  * §0). Runs each selected query `SPARK_GRAFT_REPEATS` times (default 3) in
  * one SparkSession and reports per-query min + samples (and errors, as Bench
  * does; a failed repeat is kept out of both); the min of several
  * back-to-back samples is robust against one-sided external-occupancy
  * noise. Same contract as Bench otherwise: data dir from
  * `SPARK_GRAFT_SF_DIR`, cores from `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_ONLY=q...,q...` filters.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // untimed full-path warmup (first selected query) + fixtures
    ordered.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      finally graft.operators.CacheTracker.releaseAll()
    }
    try SparkEntry.prepare(spark, sfDir)
    catch { case _: Throwable => () }
    finally graft.operators.CacheTracker.releaseAll()
    val results = ordered.map { case (name, fn) =>
      val runs = (0 until repeats).map { _ =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(name)
        val err =
          try { fn(spark, sfDir).count(); None }
          catch { case t: Throwable =>
            Some((Option(t.getMessage).getOrElse(t.getClass.getName))
              .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)) }
          finally graft.operators.CacheTracker.releaseAll()
        ((System.nanoTime() - t0) / 1e9, err)
      }
      (name, runs)
    }
    // a failed repeat is no sample of the query: `min` and `samples` cover
    // the successful repeats only (`min` is null when none succeeded), and
    // the query's first error message goes to `errors`, as in Bench
    val qs = results.map { case (k, runs) =>
      val ts = runs.collect { case (t, None) => t }
      val min = if (ts.isEmpty) "null" else ts.min.toString
      s"\"$k\":{\"min\":$min,\"samples\":[${ts.mkString(",")}],\"failed\":${runs.size - ts.size}}"
    }.mkString("{", ",", "}")
    val errs = results.flatMap { case (k, runs) =>
      runs.collectFirst { case (_, Some(e)) => s"\"$k\":\"$e\"" }
    }.mkString("{", ",", "}")
    println(s"""{"metric":"benchx","repeats":$repeats,"queries":$qs,"errors":$errs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
