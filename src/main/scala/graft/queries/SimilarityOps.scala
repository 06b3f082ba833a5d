package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Queries.Gate
import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k (q35) and random-hyperplane LSH bucketing, the
  * scale path (q36).
  *
  * Float discipline: vectors are cast to double and dot products evaluated
  * with `aggregate` over `zip_with` — a strictly sequential left-to-right
  * IEEE sum, matching DuckDB's `list_dot_product` on DOUBLE[] element
  * order, so cosines agree bit-for-bit with the oracle.
  *
  * Scale posture: q35's crossJoin is the *baseline* (bounded query set ×
  * corpus — the standard brute-force re-rank stage); q36 is the 100-TB
  * path: 8 hyperplane signs → a 256-bucket partitioning of the corpus, so
  * candidate generation is a shuffle on the bucket id and pair work is
  * confined within buckets. The hyperplanes are generated by an integer
  * LCG evaluated identically at plan time (Scala) and in the oracle SQL.
  */
object SimilarityOps {

  // native codegen'd kernel (r18): bit-identical to the former
  // aggregate(zip_with(...)) fold on null-free vectors — per-element
  // widening to double is the same arithmetic the callers' explicit
  // array<double> casts produced, without the per-row array copies
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorDot.dot(a, b)

  /** q35 — brute-force cosine top-5 neighbors for query vectors vec_id<10.
    * Dot products run through the native codegen'd [[graft.functions.VectorDot]]
    * expression (bit-identical to the composed form, no per-row array
    * allocation — see VectorDotSpec). */
  def q35(s: SparkSession, d: String): DataFrame = {
    val fdot = graft.functions.VectorDot.dot _
    // norms computed ONCE per vector before the pair join — at n queries ×
    // m candidates this saves (n-1) redundant norm passes per candidate
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("n2", fdot(col("v"), col("v")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("n2").as("cn2"))
    // explicit hint: the planner cannot see that the filter bounds q to
    // ≤10 rows (Filter propagates child stats), so at scaled inputs the
    // auto-broadcast BNLJ would degrade to a CartesianProduct — caught by
    // the ScaleStress ×100 plan sweep (r8)
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        fdot(col("qv"), col("cv")) / sqrt(col("qn2") * col("cn2")))
    // top-5 via the native bounded-heap aggregate: map-side combinable, so
    // the exchange carries 5·|queries| pairs instead of the window
    // formulation's full scored set (same ties: score desc, id asc)
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(col("cos"), col("neighbor_id"), 5).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"), round(col("col.score"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q35Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id query_id, c.vec_id neighbor_id,
      |    list_dot_product(q.v, c.v)
      |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) cos
      |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id,
      |  round(cos, 6) AS cosine
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rn
      |      FROM scored)
      |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  /** q36 — LSH bucketing: sign(v·r_j) for 8 LCG-generated hyperplanes →
    * 256-way bucket id; emit bucket occupancy and within-bucket pair count
    * (the candidate-generation cost of the ANN index). */
  def q36(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // r_j[i] = lcg(j*64+i)/2^31 - 0.5, exact in double on both engines —
    // the shared planeBucket expression (also q63, q145)
    e.withColumn("bucket", planeBucket(col("v")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"))
      .select(col("bucket"), col("n_vecs"),
        (col("n_vecs") * (col("n_vecs") - 1) / 2).cast("long").as("n_pairs"))
      .orderBy(col("bucket"))
  }

  val q36Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |b AS (
      |  SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(v,
      |      list_transform(range(64), i ->
      |        ((1103515245 * (j * 64 + i) + 12345) % 2147483648)
      |          / 2147483648.0 - 0.5)) > 0
      |    THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) bucket
      |  FROM e CROSS JOIN generate_series(0, 7) t(j) GROUP BY vec_id)
      |SELECT bucket, count(*) AS n_vecs,
      |  count(*) * (count(*) - 1) // 2 AS n_pairs
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q52 — IVF-style ANN: 8 LCG-generated coarse centroids; each vector is
    * assigned to its best cell by argmax(v·c_j − ||c_j||²/2) (the L2
    * assignment rewritten in dot products); queries then search ONLY their
    * own cell (nprobe=1) and report their best in-cell neighbor by cosine.
    * Scale: assignment is a map-side computation; the search is an
    * equi-join on cell id — the corpus is never cross-joined. */
  def q52(s: SparkSession, d: String): DataFrame = {
    val fdot = graft.functions.VectorDot.dot _
    def lcg(n: Int): Double =
      ((1103515245L * n + 12345L) % 2147483648L) / 2147483648.0 - 0.5
    def centroid(j: Int): Column =
      array((0 until 64).map(i => lit(lcg(100000 + j * 64 + i))): _*)
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    // argmax cell via greatest() over (score, -j) structs — a pure map-side
    // expression (struct compare is lexicographic: best score, then
    // smallest j), instead of explode ×8 + a corpus-wide window sort
    val best = greatest((0 until 8).map { j =>
      val cNorm2 = (0 until 64).map(i => { val x = lcg(100000 + j * 64 + i); x * x }).sum
      struct((dot(col("v"), centroid(j)) - lit(cNorm2 / 2.0)).as("score"),
        lit(-j).as("nj"))
    }: _*)
    val cells = e.withColumn("b", best)
      .select(col("vec_id"), col("v"), (-col("b.nj")).as("cell"))
      // both join sides read the routed vectors; frame-scoped pin (r11)
      .transform(graft.FramePin.pin)
    val withNorm = cells.withColumn("n2", fdot(col("v"), col("v")))
    val q = withNorm.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("cell"), col("n2").as("qn2"))
    val c = withNorm.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("cell").as("ccell"), col("n2").as("cn2"))
    q.join(c, col("cell") === col("ccell") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", fdot(col("qv"), col("cv")) / sqrt(col("qn2") * col("cn2")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cell").cast("long").as("cell"),
        col("neighbor_id"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("query_id"))
  }

  val q52Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |cj AS (
      |  SELECT j, list_transform(range(64), i ->
      |    ((1103515245 * (100000 + j * 64 + i) + 12345) % 2147483648)
      |      / 2147483648.0 - 0.5) AS c
      |  FROM generate_series(0, 7) t(j)),
      |assign AS (
      |  SELECT vec_id, v, j,
      |    list_dot_product(v, c) - list_dot_product(c, c) / 2.0 AS score
      |  FROM e CROSS JOIN cj),
      |cells AS (
      |  SELECT vec_id, v, j AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY score DESC, j) rn FROM assign) WHERE rn = 1),
      |pairs AS (
      |  SELECT q.vec_id query_id, q.cell, c.vec_id neighbor_id,
      |    list_dot_product(q.v, c.v)
      |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) cos
      |  FROM cells q JOIN cells c
      |    ON q.cell = c.cell AND q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT query_id, CAST(cell AS BIGINT) AS cell, neighbor_id,
      |  round(cos, 6) AS cosine
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos DESC, neighbor_id) rn FROM pairs)
      |WHERE rn = 1 ORDER BY query_id""".stripMargin

  /** q76 — multi-probe IVF (nprobe=2): like q52, but each QUERY searches
    * its two best cells instead of one — the standard IVF recall lever
    * (corpus vectors still live in exactly one cell, so index size is
    * unchanged; probe count scales query work only). Scale: the probe list
    * is an explode of 2 rows per query followed by the same cell equi-join;
    * nothing quadratic. */
  def q76(s: SparkSession, d: String): DataFrame = {
    val fdot = graft.functions.VectorDot.dot _
    def lcg(n: Int): Double =
      ((1103515245L * n + 12345L) % 2147483648L) / 2147483648.0 - 0.5
    def centroid(j: Int): Column =
      array((0 until 64).map(i => lit(lcg(100000 + j * 64 + i))): _*)
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    def cellScore(j: Int): Column = {
      val cNorm2 = (0 until 64).map(i => { val x = lcg(100000 + j * 64 + i); x * x }).sum
      dot(col("v"), centroid(j)) - lit(cNorm2 / 2.0)
    }
    // corpus side: map-side argmax via greatest() — no explode, no window
    val cells = e.withColumn("b", greatest((0 until 8).map(j =>
        struct(cellScore(j).as("score"), lit(-j).as("nj"))): _*))
      .select(col("vec_id"), col("v"), (-col("b.nj")).as("cell"))
      .withColumn("n2", fdot(col("v"), col("v")))
    // query side is tiny: explode the 8 scores + window for the top-2 cells
    val probes = e.filter(col("vec_id") < 10)
      .withColumn("sc", explode(array((0 until 8).map(j =>
        struct(cellScore(j).as("score"), lit(j).as("j"))): _*)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("sc.score").desc, col("sc.j"))))
      .filter(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("sc.j").as("pcell"))
      .withColumn("qn2", fdot(col("qv"), col("qv")))
    val c = cells.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("cell"), col("n2").as("cn2"))
    probes.join(c, col("pcell") === col("cell") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", fdot(col("qv"), col("cv")) / sqrt(col("qn2") * col("cn2")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("query_id"))
  }

  val q76Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |cj AS (
      |  SELECT j, list_transform(range(64), i ->
      |    ((1103515245 * (100000 + j * 64 + i) + 12345) % 2147483648)
      |      / 2147483648.0 - 0.5) AS c
      |  FROM generate_series(0, 7) t(j)),
      |assign AS (
      |  SELECT vec_id, v, j,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY
      |      list_dot_product(v, c) - list_dot_product(c, c) / 2.0 DESC, j) rn
      |  FROM e CROSS JOIN cj),
      |cells AS (SELECT vec_id, v, j AS cell FROM assign WHERE rn = 1),
      |probes AS (SELECT vec_id query_id, v qv, j AS pcell FROM assign
      |           WHERE rn <= 2 AND vec_id < 10),
      |pairs AS (
      |  SELECT p.query_id, c.vec_id neighbor_id,
      |    list_dot_product(p.qv, c.v)
      |      / sqrt(list_dot_product(p.qv, p.qv) * list_dot_product(c.v, c.v)) cos
      |  FROM probes p JOIN cells c
      |    ON p.pcell = c.cell AND p.query_id <> c.vec_id)
      |SELECT query_id, neighbor_id, round(cos, 6) AS cosine
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos DESC, neighbor_id) rn FROM pairs)
      |WHERE rn = 1 ORDER BY query_id""".stripMargin

  /** q77 — exact top-3 neighbors per query via the native `top_k_by_score`
    * aggregate ([[graft.functions.TopKByScore]]): the scored pairs reduce
    * to k pairs per query ON THE MAP SIDE (bounded heap, combinable)
    * instead of the window formulation's full per-key sort after a
    * full-width shuffle — at scale the exchange carries k·|queries| tuples
    * regardless of corpus size. Ties break toward the smaller neighbor id,
    * matching the oracle's ORDER BY. */
  def q77(s: SparkSession, d: String): DataFrame = {
    val fdot = graft.functions.VectorDot.dot _
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("n2", fdot(col("v"), col("v")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    val scored = e.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("cos", fdot(col("qv"), col("v")) / sqrt(col("qn2") * col("n2")))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(col("cos"), col("vec_id"), 3).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank_"),
        col("col.id").as("neighbor_id"), round(col("col.score"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank_"))
  }

  val q77Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |p AS (
      |  SELECT q.vec_id query_id, c.vec_id neighbor_id,
      |    list_dot_product(q.v, c.v)
      |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) cos
      |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT query_id, CAST(rn AS BIGINT) rank_, neighbor_id, round(cos, 6) cosine
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos DESC, neighbor_id) rn FROM p)
      |WHERE rn <= 3 ORDER BY query_id, rank_""".stripMargin

  /** q114 — IVF cell label purity (the clustering-quality eval an
    * embedding pipeline runs after building a coarse index): assign every
    * vector to its q52 LCG cell map-side, then per cell report the
    * population, the majority label, and the purity ratio. Scale: the
    * only window runs over (cells × labels) rows — a bounded dimension,
    * never the corpus. */
  def q114(s: SparkSession, d: String): DataFrame = {
    def lcg(n: Int): Double =
      ((1103515245L * n + 12345L) % 2147483648L) / 2147483648.0 - 0.5
    def centroid(j: Int): Column =
      array((0 until 64).map(i => lit(lcg(100000 + j * 64 + i))): _*)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"), col("label"))
    val best = greatest((0 until 8).map { j =>
      val cNorm2 = (0 until 64).map(i => { val x = lcg(100000 + j * 64 + i); x * x }).sum
      struct((dot(col("v"), centroid(j)) - lit(cNorm2 / 2.0)).as("score"),
        lit(-j).as("nj"))
    }: _*)
    val cl = e.withColumn("b", best)
      .select((-col("b.nj")).cast("long").as("cell"), col("label").cast("long").as("label"))
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("c"))
    val n = cl.groupBy(col("cell")).agg(sum(col("c")).as("n"))
    cl.withColumn("rn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("c").desc, col("label"))))
      .filter(col("rn") === 1)
      .join(n, Seq("cell"))
      .select(col("cell"), col("n"), col("label").as("majority_label"),
        col("c").as("majority_n"),
        Parity.fr(col("c").cast("double") / col("n"), 4).as("purity"))
      .orderBy(col("cell"))
  }

  val q114Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v, "label" lbl FROM embeddings),
      |cj AS (
      |  SELECT j, list_transform(range(64), i ->
      |    ((1103515245 * (100000 + j * 64 + i) + 12345) % 2147483648)
      |      / 2147483648.0 - 0.5) AS c
      |  FROM generate_series(0, 7) t(j)),
      |assign AS (
      |  SELECT vec_id, lbl, j,
      |    list_dot_product(v, c) - list_dot_product(c, c) / 2.0 AS score
      |  FROM e CROSS JOIN cj),
      |cells AS (
      |  SELECT vec_id, lbl, j AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY score DESC, j) rn FROM assign) WHERE rn = 1),
      |cl AS (SELECT cell, CAST(lbl AS BIGINT) lbl, count(*) c
      |       FROM cells GROUP BY 1, 2),
      |n AS (SELECT cell, CAST(sum(c) AS BIGINT) n FROM cl GROUP BY cell)
      |SELECT CAST(r.cell AS BIGINT) cell, n.n, r.lbl majority_label,
      |  CAST(r.c AS BIGINT) majority_n,
      |  floor(CAST(r.c AS DOUBLE) / n.n * 1e4 + 0.5) / 1e4 purity
      |FROM (SELECT *, row_number() OVER (PARTITION BY cell
      |        ORDER BY c DESC, lbl) rn FROM cl) r
      |JOIN n USING (cell) WHERE r.rn = 1 ORDER BY cell""".stripMargin

  /** q63 — embedding-cosine near-dup PAIRS (the dedup-list entry of the
    * brief): candidates from the q36 hyperplane buckets (pair work stays
    * bucket-local), exact cosine >= 0.4 on candidates, emitted as
    * (v1, v2, cosine). */
  def q63(s: SparkSession, d: String): DataFrame = {
    val fdot = graft.functions.VectorDot.dot _
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("bucket", planeBucket(col("v")))
      .withColumn("n2", fdot(col("v"), col("v")))
      // both pair-join sides read the decorated vectors; frame-scoped pin
      .transform(graft.FramePin.pin)
    val x = e.select(col("vec_id").as("v1"), col("v").as("va"),
      col("bucket"), col("n2").as("na"))
    val y = e.select(col("vec_id").as("v2"), col("v").as("vb"),
      col("bucket").as("bucket2"), col("n2").as("nb"))
    x.join(y, col("bucket") === col("bucket2") && col("v1") < col("v2"))
      .withColumn("cos", fdot(col("va"), col("vb")) / sqrt(col("na") * col("nb")))
      .filter(col("cos") >= 0.4)
      .select(col("v1"), col("v2"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("v1"), col("v2"))
  }

  val q63Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |b AS (
      |  SELECT vec_id, v, CAST(sum(CASE WHEN list_dot_product(v,
      |      list_transform(range(64), i ->
      |        ((1103515245 * (j * 64 + i) + 12345) % 2147483648)
      |          / 2147483648.0 - 0.5)) > 0
      |    THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) bucket
      |  FROM e CROSS JOIN generate_series(0, 7) t(j) GROUP BY vec_id, v)
      |SELECT x.vec_id AS v1, y.vec_id AS v2,
      |  round(list_dot_product(x.v, y.v)
      |    / sqrt(list_dot_product(x.v, x.v) * list_dot_product(y.v, y.v)), 6) AS cosine
      |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      |WHERE list_dot_product(x.v, y.v)
      |    / sqrt(list_dot_product(x.v, x.v) * list_dot_product(y.v, y.v)) >= 0.4
      |ORDER BY v1, v2""".stripMargin

  /** Full-vector coarse-quantizer centroids (k=8, two Lloyd rounds)
    * memoized per (application, data dir) via [[ArtifactMemo]] — q85
    * (cell report) and [[SelectionOps.q145]] (SemDeDup) cluster with the
    * SAME trained quantizer, and each used to re-run the training.
    * Training is deterministic (data-seeded, fixed-point sums), so loaded
    * centroids are bit-identical to inline retraining; per-vector
    * assignments recompute per consumer as the map-side broadcast argmin
    * ([[graft.operators.KMeansQuantizer.assignTo]]) — the same
    * persist-codebooks-not-assignments split the PQ memo A/B'd. */
  private[graft] def coarseCentroids(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ArtifactMemo.path(s, d, "kmeans8x2") { out =>
      graft.operators.KMeansQuantizer.trainCentroids(
          Tables.embeddings(s, d), k = 8, iterations = 2)
        .write.mode("overwrite").parquet(out)
    })

  /** q85 — train the IVF coarse quantizer in-engine
    * ([[graft.operators.KMeansQuantizer]]): k=8, two deterministic Lloyd
    * rounds (data-deterministic seeding, exact quantized-BIGINT centroid
    * sums), then report each surviving cell's population and centroid
    * energy. The oracle replays the identical two rounds as a CTE chain —
    * possible only because every step of the trainer is order-free. The
    * trained centroids come from the suite-level [[coarseCentroids]] memo. */
  def q85(s: SparkSession, d: String): DataFrame = {
    val centroids = coarseCentroids(s, d)
    val assign = graft.operators.KMeansQuantizer.assignTo(
      Tables.embeddings(s, d), centroids)
    val norm2 = aggregate(zip_with(col("cvec"), col("cvec"), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    assign.groupBy(col("cid")).agg(count(lit(1)).as("n_vectors"))
      .join(centroids.select(col("cid"), norm2.as("c_norm2")), Seq("cid"))
      .orderBy(col("cid"))
  }

  /** The 8-hyperplane LSH bucket of [[q63]]/[[q36]] as a reusable
    * expression over an `array<float>` embedding column — deterministic
    * LCG-seeded planes, identical in the DuckDB oracles. */
  private[queries] def planeBucket(v: Column): Column = {
    def plane(j: Int): Column = array((0 until 64).map { i =>
      lit(((1103515245L * (j * 64 + i) + 12345L) % 2147483648L) / 2147483648.0 - 0.5)
    }: _*)
    (0 until 8).map { j =>
      when(dot(v, plane(j)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** WITH-chain generator replaying [[graft.operators.KMeansQuantizer
    * .train]] in DuckDB: from a CTE `src`(vec_id, e) emits
    * `${p}c0`..`${p}c$rounds` (centroid rounds) and `${p}a1`..
    * `${p}a${rounds+1}` (assignments; the LAST one is under the final
    * centroids). Shared by [[q85Sql]], [[SelectionOps.q145Sql]] and the
    * per-block PQ chains of [[SelectionOps.q147Sql]] so no gate can train
    * a divergent oracle. */
  private[queries] def kmeansCtes(
      src: String, dims: Int, k: Int, rounds: Int, p: String): String = {
    def asgn(c: String, a: String): String =
      s"""d_$p$a AS (
         |  SELECT v.vec_id, v.e, $p$c.cid,
         |    list_dot_product(
         |      list_transform(range($dims), i -> CAST(v.e[i+1] AS DOUBLE) - $p$c.c[i+1]),
         |      list_transform(range($dims), i -> CAST(v.e[i+1] AS DOUBLE) - $p$c.c[i+1])) d
         |  FROM $src v CROSS JOIN $p$c),
         |$p$a AS (
         |  SELECT vec_id, e, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
         |    FROM d_$p$a) WHERE rn = 1)""".stripMargin
    def upd(a: String, c: String): String =
      s"""u_$p$c AS (
         |  SELECT cid, i,
         |    sum(CAST(floor(CAST(e[i+1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) sq,
         |    count(*) n
         |  FROM $p$a CROSS JOIN generate_series(0, ${dims - 1}) t(i) GROUP BY 1, 2),
         |$p$c AS (SELECT cid, list(CAST(sq AS DOUBLE) / (n * 1000000.0) ORDER BY i) c
         |       FROM u_$p$c GROUP BY cid)""".stripMargin
    val chain = (1 to rounds).map { r =>
      asgn(s"c${r - 1}", s"a$r") + ",\n" + upd(s"a$r", s"c$r")
    }.mkString(",\n")
    s"""${p}c0 AS (SELECT vec_id cid, list_transform(e, x -> CAST(x AS DOUBLE)) c
       |       FROM $src ORDER BY vec_id LIMIT $k),
       |$chain,
       |${asgn(s"c$rounds", s"a${rounds + 1}")}""".stripMargin
  }

  /** The q85 instance of [[kmeansCtes]] (64-dim, k=8, 2 rounds, no
    * prefix) plus its `v` source over the embeddings table. */
  private[queries] val KmeansCtes: String =
    s"""v AS (SELECT vec_id, embedding e FROM embeddings),
       |${kmeansCtes("v", 64, 8, 2, "")}""".stripMargin

  val q85Sql: String =
    s"""WITH $KmeansCtes
       |SELECT a3.cid, count(*) AS n_vectors,
       |  list_dot_product(c2.c, c2.c) AS c_norm2
       |FROM a3 JOIN c2 USING (cid)
       |GROUP BY a3.cid, c2.c ORDER BY cid""".stripMargin

  /** q90 — ANN quality evaluation in-engine: recall@5 of the multiprobe
    * IVF search (nprobe=2, the q76 shape) against the exact brute-force
    * top-5, per query. The measurement loop a production ANN pipeline runs
    * after every re-train/re-bucket: both arms, the intersection, and the
    * recall ratio are computed distributed (native top-k aggregates on
    * both arms; hits as an array intersection), no collect. */
  /** The fixed LCG-seeded IVF coarse centroids of q52/q76/q90 (8 cells,
    * literal planes — no training) and their inner-product routing score,
    * shared with the IVF-PQ serving path [[SelectionOps.q151]]. */
  private[queries] def ivfLcg(n: Int): Double =
    ((1103515245L * n + 12345L) % 2147483648L) / 2147483648.0 - 0.5

  private[queries] def ivfCentroid(j: Int): Column =
    array((0 until 64).map(i => lit(ivfLcg(100000 + j * 64 + i))): _*)

  /** score_j(v) = v·c_j − |c_j|²/2 — the argmax-equivalent of nearest-L2
    * routing; `v` any numeric array column. */
  private[queries] def ivfCellScore(v: Column, j: Int): Column = {
    val cNorm2 =
      (0 until 64).map(i => { val x = ivfLcg(100000 + j * 64 + i); x * x }).sum
    dot(v, ivfCentroid(j)) - lit(cNorm2 / 2.0)
  }

  def q90(s: SparkSession, d: String): DataFrame = {
    val fdot = graft.functions.VectorDot.dot _
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    def cellScore(j: Int): Column = ivfCellScore(col("v"), j)
    val cells = e.withColumn("b", greatest((0 until 8).map(j =>
        struct(cellScore(j).as("score"), lit(-j).as("nj"))): _*))
      .select(col("vec_id"), col("v"), (-col("b.nj")).as("cell"))
      .withColumn("n2", fdot(col("v"), col("v")))
      // query + corpus sides both read the routed vectors; frame-scoped pin
      .transform(graft.FramePin.pin)
    val q = cells.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    val corpus = cells.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("cell"), col("n2").as("cn2"))
    def cos: Column = fdot(col("qv"), col("cv")) / sqrt(col("qn2") * col("cn2"))
    // broadcast hint: q is ≤50 rows by construction but the planner can't
    // see it through the filter at scaled inputs (ScaleStress r8 sweep)
    val exact5 = broadcast(q).crossJoin(corpus.drop("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(cos, col("neighbor_id"), 5).as("t"))
      .select(col("query_id"), transform(col("t"), _.getField("id")).as("exact_ids"))
    val probes = e.filter(col("vec_id") < 50)
      .withColumn("sc", explode(array((0 until 8).map(j =>
        struct(cellScore(j).as("score"), lit(j).as("j"))): _*)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("sc.score").desc, col("sc.j"))))
      .filter(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        fdot(col("v"), col("v")).as("qn2"), col("sc.j").as("pcell"))
    val ivf5 = probes
      .join(corpus, col("pcell") === col("cell") &&
        col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(cos, col("neighbor_id"), 5).as("t"))
      .select(col("query_id"), transform(col("t"), _.getField("id")).as("ivf_ids"))
    exact5.join(ivf5, Seq("query_id"), "left")
      .select(col("query_id"),
        size(col("exact_ids")).cast("long").as("n_exact"),
        coalesce(size(col("ivf_ids")), lit(0)).cast("long").as("n_ivf"),
        coalesce(size(array_intersect(col("exact_ids"), col("ivf_ids"))), lit(0))
          .cast("long").as("hits"))
      .withColumn("recall", col("hits").cast("double") / 5)
      .orderBy(col("query_id"))
  }

  val q90Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |cj AS (
      |  SELECT j, list_transform(range(64), i ->
      |    ((1103515245 * (100000 + j * 64 + i) + 12345) % 2147483648)
      |      / 2147483648.0 - 0.5) AS c
      |  FROM generate_series(0, 7) t(j)),
      |assign AS (
      |  SELECT vec_id, v, j,
      |    list_dot_product(v, c) - list_dot_product(c, c) / 2.0 AS score
      |  FROM e CROSS JOIN cj),
      |cells AS (
      |  SELECT vec_id, v, j AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY score DESC, j) rn FROM assign) WHERE rn = 1),
      |q AS (SELECT vec_id query_id, v qv FROM e WHERE vec_id < 50),
      |exact AS (
      |  SELECT query_id, neighbor_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rn
      |  FROM (SELECT q.query_id, c.vec_id neighbor_id,
      |          list_dot_product(q.qv, c.v) / sqrt(
      |            list_dot_product(q.qv, q.qv) * list_dot_product(c.v, c.v)) cos
      |        FROM q JOIN e c ON c.vec_id <> q.query_id)),
      |exact5 AS (SELECT query_id, list(neighbor_id ORDER BY rn) ids
      |           FROM exact WHERE rn <= 5 GROUP BY 1),
      |probes AS (
      |  SELECT vec_id query_id, j pcell FROM (
      |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY score DESC, j) rn FROM assign WHERE vec_id < 50)
      |  WHERE rn <= 2),
      |cand AS (
      |  SELECT p.query_id, c.vec_id neighbor_id,
      |    list_dot_product(q.qv, c.v) / sqrt(
      |      list_dot_product(q.qv, q.qv) * list_dot_product(c.v, c.v)) cos
      |  FROM probes p JOIN q ON q.query_id = p.query_id
      |  JOIN cells c ON c.cell = p.pcell AND c.vec_id <> p.query_id),
      |ivf AS (SELECT query_id, neighbor_id, row_number() OVER (
      |          PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rn
      |        FROM cand),
      |ivf5 AS (SELECT query_id, list(neighbor_id ORDER BY rn) ids
      |         FROM ivf WHERE rn <= 5 GROUP BY 1)
      |SELECT x.query_id,
      |  CAST(len(x.ids) AS BIGINT) AS n_exact,
      |  CAST(coalesce(len(i.ids), 0) AS BIGINT) AS n_ivf,
      |  CAST(coalesce(len(list_intersect(x.ids, i.ids)), 0) AS BIGINT) AS hits,
      |  CAST(coalesce(len(list_intersect(x.ids, i.ids)), 0) AS DOUBLE) / 5 AS recall
      |FROM exact5 x LEFT JOIN ivf5 i ON i.query_id = x.query_id
      |ORDER BY x.query_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q35_cosine_topk", q35, q35Sql), Gate("q36_ann_lsh_buckets", q36, q36Sql),
    Gate("q52_ann_ivf", q52, q52Sql), Gate("q63_embedding_neardup", q63, q63Sql),
    Gate("q76_ann_ivf_multiprobe", q76, q76Sql), Gate("q77_topk_native_agg", q77, q77Sql),
    Gate("q85_kmeans_quantizer", q85, q85Sql), Gate("q90_ann_recall", q90, q90Sql),
    Gate("q114_cell_purity", q114, q114Sql))
}
