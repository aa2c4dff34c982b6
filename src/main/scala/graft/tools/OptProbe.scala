package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-6 stage probe: times the sub-stages of the heavy composed queries
  * (q46 radius-pairs vs closure; q36 band/verify stages; q55 train/encode/
  * scan) so optimization targets the stage that actually costs, not the
  * query total. runMain graft.tools.OptProbe [sfDir] [cpus]
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 1) args(1) else "32"
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.{EntryQueries => EQ}
    import graft.operators.{SpatialOps, Dedup, CacheTracker}
    import graft.sources.ImageTable
    EQ.ensureRegistered(spark)
    def time[T](name: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(f"[optprobe] $name: ${(System.nanoTime() - t) / 1e9}%.2f s"); r
    }
    spark.range(1000).selectExpr("sum(id)").collect()

    // ---- q46 stages ----
    val n = Math.min(EQ.imageCount(dir), 20000L)
    val pts = ImageTable.metaDf(spark, 0, n)
      .filter(pmod(col("id"), lit(10L)) < 3 && pmod(col("id"), lit(3L)) === 0)
      .withColumn("lon", SpatialOps.phashLon(col("phash")))
      .withColumn("lat", SpatialOps.phashLat(col("phash")))
      .select("id", "lon", "lat")
    (1 to 2).foreach { i =>
      val pairs = SpatialOps.radiusPairs(pts, col("id"), col("lon"), col("lat"),
        radiusDeg = 0.002, res = 14)
      time(s"q46 radiusPairs count #$i")(println("pairs=" + pairs.count()))
      val pairsP = pairs.persist()
      pairsP.count()
      time(s"q46 CC label-only #$i") {
        try {
          val l = Dedup.connectedComponents(pairsP, col("id_a"), col("id_b"),
            maxIters = 30, algorithm = "label")
          println("label comps=" + l.select("comp").distinct().count())
        } catch { case e: Exception => println("label failed: " + e.getMessage.take(80)) }
      }
      time(s"q46 CC star-only #$i") {
        val st2 = Dedup.connectedComponentsStar(pairsP, col("id_a"), col("id_b"))
        println("star comps=" + st2.select("comp").distinct().count())
      }
      time(s"q46 CC auto(4) #$i") {
        val a = Dedup.connectedComponents(pairsP, col("id_a"), col("id_b"),
          algorithm = "auto", autoLabelPasses = 4)
        println("auto comps=" + a.select("comp").distinct().count())
      }
      pairsP.unpersist()
      CacheTracker.releaseAll()
    }

    // ---- q36 stages ----
    val d = spark.read.parquet(s"$dir/documents.parquet")
    (1 to 2).foreach { i =>
      time(s"q36 full #$i") {
        Dedup.decontaminateLarge(d, col("doc_id"), col("text"),
          d.filter(col("doc_id") < 20), col("text"))
          .groupBy("source").agg(count(lit(1))).count()
      }
      CacheTracker.releaseAll()
      val sig = d.select(col("doc_id"),
        graft.functions.st.minhashSig(col("text"), 4, 32).as("sig"))
      time(s"q36 corpus minhash-only #$i")(sig.write.format("noop").mode("overwrite").save())
      val sh = d.select(graft.functions.st.shingleHashes(col("text"), 4).as("sh"))
      time(s"q36 corpus shingles-only #$i")(sh.write.format("noop").mode("overwrite").save())
      CacheTracker.releaseAll()
    }

    // ---- q22 ----
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    (1 to 2).foreach { i =>
      time(s"q22 simhashPairs real #$i") {
        Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 3).count()
      }
      CacheTracker.releaseAll()
    }

    // ---- q48 tail anatomy ----
    (1 to 2).foreach { i =>
      val pairs = Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 3)
        .persist()
      time(s"q48 pairs materialize #$i")(println("pairs=" + pairs.count()))
      val comps = time(s"q48 CC #$i") {
        val c = Dedup.connectedComponents(pairs, col("id_a"), col("id_b"), algorithm = "auto")
        c.count(); c
      }
      time(s"q48 quality scan #$i") {
        docs.select(col("doc_id"),
          graft.operators.TextOps.qualityScoreBp(col("text")).as("q"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"q48 tail #$i") {
        Dedup.keepBest(
          docs.select(col("doc_id"),
            graft.operators.TextOps.qualityScoreBp(col("text")).as("q")),
          col("doc_id"), col("q"), pairs, col("id_a"), col("id_b")).count()
      }
      pairs.unpersist()
      CacheTracker.releaseAll()
    }

    // ---- q21 stage anatomy ----
    (1 to 2).foreach { i =>
      val sig = docs.select(col("doc_id").as("id"),
        graft.functions.st.minhashSig(col("text"), 4, 32).as("sig"))
      time(s"q21 sig kernel noop #$i")(sig.write.format("noop").mode("overwrite").save())
      val cands = Dedup.minhashCandidates(docs, col("doc_id"), col("text"))
      time(s"q21 candidates count #$i")(println("cands=" + cands.count()))
      CacheTracker.releaseAll()
      val cands2 = Dedup.minhashCandidates(docs, col("doc_id"), col("text"))
      time(s"q21 full verify #$i") {
        Dedup.jaccardVerify(cands2, docs, col("doc_id"), col("text"), minJaccard = 0.6)
          .count()
      }
      CacheTracker.releaseAll()
    }

    // ---- q55 stages ----
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    (1 to 2).foreach { i =>
      time(s"q55 full #$i") {
        graft.operators.Ann.pqTopK(emb, col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
          k = 10, m = 8, ks = 16, iters = 1).count()
      }
      CacheTracker.releaseAll()
    }
    spark.stop()
  }
}
