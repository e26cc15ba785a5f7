package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{CosineSimilarity, IntDotProduct, SignLshBucket, TopCells, WordNgrams}
import graft.operators.{ConnectedComponents, GramPCA, KCore, PageRank}

/** Direct calls into single layers of the program, each inside its own
  * span so the jobs it runs are attributed to it. Inputs are derived from
  * the fixture tables; every DataFrame result ends in the noop sink. */
object Layers {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** Copies of each fixture row the kernel projections run over, so a
    * kernel's time is not lost under the fixed cost of one job. */
  val KernelCopies = 50

  def run(spark: SparkSession, rec: Recorder, dir: String, parent: Long,
      reps: Int): Unit = {
    def layer(name: String, rep: Int)(body: SparkSession => Unit): Unit =
      rec.within(spark, "layer", name, parent) { s =>
        s.attrs("rep") = rep
        body(spark)
      }

    for (rep <- 1 to reps; (name, load) <- loaders)
      layer(s"tables.$name", rep)(s => load(s, dir))

    // Bipartite part–supplier graph from a slice of lineitem: ids are
    // disjoint (suppliers shifted by 10^7), so x < y holds for KCore.
    def bipartite(s: SparkSession): DataFrame = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 25 === 0)
      .select(col("l_partkey").as("x"), (col("l_suppkey") + 10000000L).as("y"))
      .distinct()
    for (rep <- 1 to reps) {
      layer("operators.cc", rep)(s => noop(ConnectedComponents.run(bipartite(s))))
      layer("operators.pagerank", rep) { s =>
        val e = bipartite(s)
        noop(PageRank.run(e.select(col("x").as("src"), col("y").as("dst"))
          .union(e.select(col("y"), col("x"))), iterations = 5))
      }
      layer("operators.kcore", rep)(s => noop(KCore.run(bipartite(s), k = 2, rounds = 3)._1))
      layer("operators.gram_pca", rep) { s =>
        GramPCA.topK(Tables.embeddings(s, dir), "embedding", 64, k = 3)
      }
    }

    CosineSimilarity.register(spark)
    IntDotProduct.register(spark)
    SignLshBucket.register(spark)
    TopCells.register(spark)
    WordNgrams.register(spark)
    val copies = spark.range(KernelCopies).withColumnRenamed("id", "copy")
    val emb = Tables.embeddings(spark, dir).crossJoin(copies)
    val docs = Tables.documents(spark, dir).crossJoin(copies)
    val centroids = Tables.embeddings(spark, dir).orderBy("vec_id").limit(16)
      .collect()
    val cids = typedlit(centroids.map(_.getLong(0)).toSeq)
    val ces = typedlit(centroids.flatMap(_.getSeq[Float](1)).toSeq)
    val q = typedlit(centroids.head.getSeq[Float](1))
    val quant = transform(col("embedding"), x => (x * 127).cast("int"))
    val kernels: Seq[(String, DataFrame)] = Seq(
      "cosine" -> emb.select(CosineSimilarity.cosineSim(col("embedding"), q)),
      "int_dot" -> emb.select(IntDotProduct.intDot(quant, reverse(quant))),
      "word_ngrams" -> docs.select(WordNgrams.wordNgrams(col("text"), 3)),
      "lsh_bucket" -> emb.select(SignLshBucket.lshBucket(col("embedding"))),
      "top_cells" -> emb.select(TopCells.topCells(col("embedding"), cids, ces, 3)))
    val rows = Map("cosine" -> emb.count(), "word_ngrams" -> docs.count())
    for (rep <- 1 to reps; (name, df) <- kernels)
      rec.within(spark, "layer", s"functions.$name", parent) { s =>
        s.attrs("rep") = rep
        s.attrs("rows") = rows.getOrElse(name, rows("cosine"))
        noop(df)
      }
  }
}
