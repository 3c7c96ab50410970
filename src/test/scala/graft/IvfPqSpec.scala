package graft

import graft.operators.{IvfPq, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF+PQ composite ANN (IVFADC): determinism, recall on clustered
  * data, probe-count monotonicity, and the plan contract (corpus side
  * stays a narrow projection; the probe table broadcasts).
  */
class IvfPqSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  def emb = spark.read
    .parquet(s"${TestSpark.sfDir}/embeddings.parquet")

  /** 8 clusters of 25 vectors in 16 dims — the IvfKmeansSpec/PqSpec
    * fixture family.
    */
  private def clustered = {
    import spark.implicits._
    val dims = 16; val perCluster = 25; val nClusters = 8
    (0 until nClusters * perCluster).map { id =>
      val c = id / perCluster
      val raw = Array.tabulate(dims) { j =>
        val center = if (j == c * 2) 1.0 else 0.0
        center + 0.15 * math.sin(id * 131.0 + j * 7.0)
      }
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (id.toLong, raw.map(x => (x / nrm).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("ivfPqTopK is deterministic across runs and repartitioning") {
    def run(parts: Int) = {
      val c = if (parts > 0) emb.repartition(parts) else emb
      IvfPq.ivfPqTopK(c, emb.filter(col("vec_id") < 4), "vec_id",
          "embedding", topK = 5, nCells = 16, coarseIters = 2,
          nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getInt(4))).toSeq
    }
    assert(run(0) === run(7))
  }

  test("recall@5 on clustered data; more probes never hurt recall") {
    val corpus = clustered
    val qs = corpus.filter(col("vec_id") % 25 === 0)
    val exact = Similarity.cosineTopK(corpus, qs, "vec_id",
        "embedding", 5)
      .select(col("q_id"), col("n_id"))
    def recallOf(nProbe: Int): Double =
      IvfPq.ivfPqTopK(corpus, qs, "vec_id", "embedding", topK = 5,
          nCells = 8, coarseIters = 2, nProbe = nProbe, nSub = 4,
          kPq = 8, pqIters = 2, sampleMod = 1)
        .select(col("q_id"), col("n_id"))
        .join(exact, Seq("q_id", "n_id"), "left_semi").count()
        .toDouble / exact.count()
    val r1 = recallOf(1)
    val r2 = recallOf(2)
    info(f"IVFPQ recall@5: nProbe=1 $r1%.3f, nProbe=2 $r2%.3f")
    assert(r2 >= r1, f"recall dropped with more probes: $r1 -> $r2")
    assert(r2 >= 0.5, f"recall $r2%.3f unexpectedly low")
  }

  test("build once, probe many: a saved+reloaded index and code " +
      "table answers identically to the direct path") {
    val dir = tempDir("ivfpq-idx")
    val qs = emb.filter(col("vec_id") < 4)
    val idx = IvfPq.fit(emb, "vec_id", "embedding", nCells = 16,
      coarseIters = 2)
    IvfPq.saveIndex(idx, dir)
    IvfPq.encode(emb, "vec_id", "embedding", idx)
      .write.mode("overwrite").parquet(s"$dir/codes")
    val idx2 = IvfPq.loadIndex(spark, dir)
    val fromSaved = IvfPq.probe(
        spark.read.parquet(s"$dir/codes"), qs, "vec_id", "embedding",
        idx2, topK = 5, nProbe = 2)
      .collect().toSeq
    val direct = IvfPq.ivfPqTopK(emb, qs, "vec_id", "embedding",
        topK = 5, nCells = 16, coarseIters = 2, nProbe = 2)
      .collect().toSeq
    assert(fromSaved === direct)
  }

  test("cell-partitioned code table: probing answers identically " +
      "and the scan carries a dynamic partition-pruning filter") {
    val dir = tempDir("ivfpq-part")
    val qs = emb.filter(col("vec_id") < 4)
    val idx = IvfPq.fit(emb, "vec_id", "embedding", nCells = 16,
      coarseIters = 2)
    IvfPq.encode(emb, "vec_id", "embedding", idx)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/codes")
    val codes = spark.read.parquet(s"$dir/codes")
    val out = IvfPq.probe(codes, qs, "vec_id", "embedding", idx,
      topK = 5, nProbe = 2)
    val direct = IvfPq.ivfPqTopK(emb, qs, "vec_id", "embedding",
      topK = 5, nCells = 16, coarseIters = 2, nProbe = 2)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("q_id").cast("long"), col("n_id").cast("long"),
        col("adist").cast("long"), col("rank").cast("int"))
      .collect().toSeq
    assert(key(out) === key(direct))
    // the probed-cell set reaches the partitioned scan as a runtime
    // filter: only nProbe cells' files are read, not the corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(2000))
  }

  test("corpus side is narrow: no corpus shuffle, probe join " +
      "broadcasts, SortMergeJoin absent") {
    val df = IvfPq.ivfPqTopK(emb, emb.filter(col("vec_id") < 4),
      "vec_id", "embedding", topK = 5, nCells = 16, coarseIters = 2,
      nProbe = 2)
    val p = df.queryExecution.executedPlan.toString
    // one hash exchange for the probe-rank window (tiny query side),
    // one for the final top-k window — the corpus never hash-shuffles
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 2, p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }
}
