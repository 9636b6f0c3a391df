package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The persisted IVF index must (1) answer bit-identically to the
  * build-inline ivfTopK on the same parameters, (2) actually PRUNE:
  * the lists scan carries a partition filter and a query batch that
  * probes few lists reads few of them, and (3) accept incremental
  * appends under the frozen codebook. */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), Similarity.quantize(col("embedding")).as("query_vec"))
  private lazy val queries = corpus.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
  private lazy val path = {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    IvfIndex.build(corpus, numCentroids = 8, dir)
    dir
  }

  test("index answers == build-inline ivfTopK on identical parameters") {
    val fromIndex = IvfIndex.topK(spark, path, queries, k = 5, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect().toSet
    val inline = Similarity.ivfTopK(corpus, queries, k = 5,
        numCentroids = 8, nprobe = 2)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(fromIndex === inline)
    assert(fromIndex.nonEmpty)
  }

  test("served auto-(ceil sqrt n) index == inline auto search (q280's certification)") {
    // the production serving shape: the ⌈√n⌉ codebook + assignment
    // are amortized into the persisted build, and a query batch
    // answered from the cid-partitioned lists must lose NOTHING vs
    // running the same auto algorithm inline (q228's ivfSearchWith)
    val n = corpus.count()
    val numC = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val dir = java.nio.file.Files.createTempDirectory("ivfauto").toString
    IvfIndex.build(corpus, numC, dir)
    assert(IvfIndex.isValid(spark, dir, n, numC))
    val served = IvfIndex.topK(spark, dir, queries, k = 5, nprobe = 4)
      .as[(Long, Int, Long, Double)].collect().toSet
    val inline = Similarity.ivfSearchWith(corpus, queries, k = 5, nprobe = 4,
        Similarity.ivfCentroids(corpus, numC), knownN = n)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(served === inline)
    assert(served.nonEmpty)
  }

  test("lists scan is partition-pruned to the probed cids") {
    // a single query probing 2 of 8 lists must not read the rest
    val one = queries.orderBy("query_id").limit(1)
    val df = IvfIndex.topK(spark, path, one, k = 3, nprobe = 2)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.metadata
        .get("Location").exists(_.contains("lists")) => f
    }
    assert(scans.nonEmpty, "no file scan over the lists table found")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "lists scan carries no partition filter — the isin prune was lost")
    val probed = Similarity.ivfProbes(one,
      IvfIndex.centroids(spark, path), nprobe = 2, Similarity.Cosine)
      .select("cid").distinct().count()
    assert(probed === 2)
  }

  test("incremental append under the frozen codebook is searchable") {
    val cents = IvfIndex.centroids(spark, path)
    // clone an existing vector under a fresh id; it must come back as
    // its origin's top-1 neighbor (cosine 1) through the index
    val src = corpus.orderBy("vec_id").limit(1).head
    val srcId = src.getLong(0)
    val newId = 1000000L + srcId
    val appended = Seq((newId, src.getSeq[Long](1))).toDF("vec_id", "query_vec")
    IvfIndex.assignOnly(appended, cents)
      .write.partitionBy("cid").mode("append").parquet(s"$path/lists")
    val q = corpus.filter(col("vec_id") === srcId)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    val top1 = IvfIndex.topK(spark, path, q, k = 1, nprobe = 8)
      .select("vec_id", "cosine").as[(Long, Double)].head()
    assert(top1._1 === newId)
    assert(math.abs(top1._2 - 1.0) < 1e-12)
  }
}
