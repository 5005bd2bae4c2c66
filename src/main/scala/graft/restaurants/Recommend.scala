package graft.restaurants

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q

/** W3 query surface (category_model.ipynb cells 1 + `recommend_restaurants`,
  * :129-165): per-cluster category profiles and the category-query
  * recommender — the reference's only query-shaped user entry point,
  * re-expressed as two declarative DataFrame queries over the fitted
  * clustering.
  *
  * The reference's imperative accumulate-until-n loop (sort clusters,
  * append matching rows, head(n)) collapses into a single
  * orderBy(clusterRank, -score).limit(n) — one plan, no driver loop
  * (SURVEY §2.5 "top-n accumulate" row).
  */
object Recommend {

  /** Per-cluster top-7 categories by mean one-hot prevalence
    * (groupby(cluster).mean + row-wise top-7, category_model.ipynb:66,70):
    * unpivot the category vector with posexplode, mean per (cluster,
    * category), window row_number ≤ 7. One hash exchange on the
    * (cluster, category) agg then a partition-local rank — the wide
    * ~380-column row-wise sort the reference does per row never
    * materializes. */
  def clusterProfile(fitted: Cluster.Fitted): DataFrame = {
    val vocab = fitted.vocabulary
    val byCluster = Window.partitionBy(col("cluster"))
      .orderBy(col("mean_presence").desc, col("category"))
    fitted.clustered
      .select(col("cluster"), posexplode(vector_to_array(col("catVec"))))
      .select(col("cluster"), col("pos"), col("col").as("presence"))
      .groupBy(col("cluster"), col("pos"))
      .agg(avg(col("presence")).as("mean_presence"))
      .withColumn("category",
        element_at(lit(vocab), col("pos") + 1))
      .withColumn("rank", row_number().over(byCluster))
      .filter(col("rank") <= 7)
      .select(col("cluster"), col("rank"), col("category"), col("mean_presence"))
      .orderBy(col("cluster"), col("rank"))
  }

  /** recommend(queryCategories, n): clusters ranked by how strongly
    * their profile matches the query (mean presence of query categories,
    * category_model.ipynb:152-153), then restaurants from best clusters
    * first, by per-row match count then price (proxy for the
    * reference's rating sort), limit n. Case-insensitive matching via
    * lower() on both sides (category_model.ipynb:131). */
  def recommend(fitted: Cluster.Fitted, queryCategories: Seq[String], n: Int): DataFrame = {
    val q = queryCategories.map(_.toLowerCase)
    val matchCount = size(array_intersect(col("categories"), lit(q.toArray)))
    val clusterScores = fitted.clustered
      .withColumn("m", matchCount)
      .groupBy(col("cluster"))
      .agg(avg(col("m")).as("cluster_score"))
    val ranked = clusterScores
      .withColumn("cluster_rank",
        row_number().over(Window.orderBy(col("cluster_score").desc, col("cluster"))))
    fitted.clustered
      .join(broadcast(ranked), "cluster") // k=7 rows — constant at any scale
      .withColumn("match_count", matchCount)
      .filter(col("match_count") > 0)
      .orderBy(col("cluster_rank"), col("match_count").desc,
        col("price").desc, col("restaurant_id"))
      .limit(n)
      .select(col("restaurant_id"), col("name"), col("cluster"),
        col("cluster_rank"), col("match_count"), col("price"))
  }

  /** Registry entries — ML-dependent (KMeans assignments), so non-oracle
    * and bench-excluded; structure is asserted in ClusterSpec. */
  val q51ClusterProfile: Q = Q.heavy("q51_cluster_profile") { (s, dir) =>
    clusterProfile(Cluster.fit(s, dir))
  }

  val q52Recommend: Q = Q.heavy("q52_recommend") { (s, dir) =>
    recommend(Cluster.fit(s, dir), Seq("red", "ECONOMY"), 50)
  }

  val all: Seq[Q] = Seq(q51ClusterProfile, q52Recommend)
}
