package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF (inverted-file) approximate nearest neighbor — the scale path for
  * embedding search when no natural bucket column (q35's label) exists:
  * centroids are trained on the corpus, every vector is assigned to its
  * nearest centroid (the "inverted list"), and a query probes only the
  * few nearest lists instead of scanning the corpus.
  *
  * The centroid table is C rows — DRIVER-SMALL BY CONSTRUCTION (a coarse
  * quantizer's C is thousands at most, exactly like the broadcast
  * dimension it used to be). r6 optimization (guide §2.4: remove shuffles
  * outright): centroids are collected once and re-injected as expression
  * LITERALS, so nearest-centroid assignment is a pure codegen'd
  * projection — the previous crossJoin(broadcast) exploded every vector
  * C-fold and then paid a full vec_id-keyed shuffle to argmin it back;
  * now no assignment shuffles anything, and the per-step localCheckpoints
  * disappear because each Lloyd step starts from literals (lineage is
  * truncated by construction). Per-pair arithmetic is unchanged
  * expression-for-expression, so every distance is bit-identical to the
  * r5 plan; argmin keeps the exact (d2, cluster) tie-break via array_min
  * over structs ≡ min_by(cluster, struct(d2, cluster)).
  */
object Ivf {

  private def dist2(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x,y) -> (x-y)*(x-y)), 0D, (acc,v) -> acc + v)")

  /** Most centroid rows brought to the driver. A coarse quantizer's C is
    * thousands at most (see the object scaladoc), so ten thousand leaves
    * headroom while a corpus-sized table passed as centroids fails with a
    * message instead of exhausting the driver heap.
    */
  val MaxCentroids = 10000

  /** Collected (cluster, cv) centroid rows, ascending by cluster id. */
  private def collectCents(centroids: DataFrame): Seq[(Int, Seq[Double])] = {
    val rows = centroids.select(col("cluster").cast("int"), col("cv"))
      .limit(MaxCentroids + 1).collect()
    require(rows.length <= MaxCentroids,
      s"centroid table has more than $MaxCentroids rows — pass the C-row " +
        "table Ivf.train returns, not a corpus-sized one")
    rows.map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
  }

  /** Squared distance from vector column `v` to one literal centroid —
    * the exact r5 expression (`aggregate(zip_with(v, cv, (x,y)->(x-y)*(x-y)),
    * 0D, (acc,z)->acc+z)`) with the centroid as exact double literals
    * (Column-API `lit`, no string round-trip), so every distance is
    * bit-identical to the broadcast-join plan it replaces.
    */
  private def d2Lit(cv: Seq[Double]): Column =
    // typedLit: ONE literal node per centroid array (64 per-element lit
    // nodes made the plan tree big enough that driver-side
    // analysis/optimization dominated these tiny jobs)
    aggregate(zip_with(col("v"), typedLit(cv),
      (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, z) => acc + z)

  /** Nearest-centroid id for vector column `v` against literal centroids:
    * argmin by (d2, cluster) — array_min over structs, lexicographic, so
    * ties resolve to the smaller cluster exactly like the old
    * min_by(cluster, struct(d2, cluster)). One projection, no join.
    */
  private def nearestLit(cents: Seq[(Int, Seq[Double])]): Column = {
    val pairs = cents.map { case (cl, cv) =>
      struct(d2Lit(cv).as("d2"), lit(cl).as("cluster"))
    }
    array_min(array(pairs: _*)).getField("cluster")
  }

  /** Nearest-centroid assignment: a pure projection against the literal
    * centroid table (see object scaladoc). Returns (vec_id, cluster, v).
    */
  def assign(vecs: DataFrame, centroids: DataFrame): DataFrame =
    assignLocal(vecs, collectCents(centroids))

  private def assignLocal(vecs: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame =
    vecs.select(col("vec_id"), nearestLit(cents).as("cluster"), col("v"))

  /** One Lloyd refinement step implemented relationally: assign to the
    * nearest current centroid, then per-cluster element-wise mean via
    * posexplode → groupBy(cluster, pos). The (cluster, pos, mean) result
    * is C×dim rows — driver-small — so the arrays are assembled on the
    * driver (ordered by pos, exactly the old array_sort(collect_list)
    * reassembly) instead of paying a second shuffle per step.
    */
  private def lloydStep(vecs: DataFrame,
      cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] =
    assignLocal(vecs, cents)
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos")).agg(avg(col("x")).as("m"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cl, rows) =>
        (cl, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }
      .toSeq.sortBy(_._1)

  /** Train: seed centroids are the first `c` vectors by id (deterministic —
    * on a production corpus this is the offline k-means|| job), refined by
    * `iters` Lloyd steps. Returns (cluster, cv). Each step collects its
    * C-row result to the driver, so lineage is truncated by construction
    * and no pin is needed.
    */
  def train(emb: DataFrame, c: Int = 16, iters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    val vecs = emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS DOUBLE))").as("v"))
    var cents = collectCents(vecs.filter(col("vec_id") < c)
      .select(col("vec_id").cast("int").as("cluster"), col("v").as("cv")))
    (0 until iters).foreach { _ =>
      cents = lloydStep(vecs, cents)
    }
    // materialize the final C-row table once — callers treat it as the
    // tiny committed artifact it is (no recompute per consumer)
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(cents.map { case (cl, cv) =>
        org.apache.spark.sql.Row(cl, cv) }: _*)
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false),
          nullable = false))))
  }

  /** Probe: top-k cosine neighbors for each query, scanning only the
    * `nProbe` inverted lists whose centroids are nearest the query.
    * Norms are computed once per SIDE (per query, per corpus vector)
    * before the candidate join instead of once per candidate pair — the
    * same sqrt(Σx²) expression over the same array, so every cosine is
    * bit-identical (guide §2.3: shuffle/evaluate narrower work).
    */
  def search(emb: DataFrame, centroids: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cents = collectCents(centroids)
    val vecs = emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS DOUBLE))").as("v"))
    val lists = assignLocal(vecs, cents)
      .withColumn("nn", expr("sqrt(aggregate(v, 0D, (acc,x) -> acc + x*x))"))

    // probe list per query: nProbe nearest centroids by (qd2, cluster) —
    // array_sort over literal-centroid distance structs, then explode;
    // identical set and order to the old row_number window
    val qdists = cents.map { case (cl, cv) =>
      struct(d2Lit(cv).as("qd2"), lit(cl).as("cluster"))
    }
    val probes = vecs.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v"),
        slice(array_sort(array(qdists: _*)), 1, nProbe).getField("cluster").as("pcs"))
      .withColumn("nq", expr("sqrt(aggregate(v, 0D, (acc,x) -> acc + x*x))"))
      .select(col("query_id"), col("v").as("qv"), col("nq"),
        explode(col("pcs")).as("cluster"))

    // candidate generation is a hash join on the list id — the corpus is
    // never cross-joined; the query side is broadcast (few rows)
    val pairs = broadcast(probes).join(lists, Seq("cluster"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(
        expr("aggregate(zip_with(qv, v, (a,b) -> a*b), 0D, (acc,x) -> acc + x)") /
          (col("nq") * col("nn")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("cos"))
  }
}
