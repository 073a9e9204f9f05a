package graft.pipeline

import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Connected components over a near-duplicate pair list — the clustering
  * step a training-data dedup pipeline runs AFTER candidate generation
  * (Dedup.minhashPairs / simhashPairs emit pairwise edges; transitive
  * closure groups them into duplicate clusters, and one representative
  * per cluster survives).
  *
  * The reference has no graph operator (its dedup surface is
  * DISTINCT / GROUP BY — datafusion/optimizer/src/replace_distinct_
  * aggregate.rs); this is a beyond-reference scale-path operator like
  * the rest of graft.pipeline.
  *
  * Two paths, one result (ClusteringSpec holds both to a union-find
  * oracle):
  *  - Driver: an edge list of at most `DriverEdges` rows with integral
  *    ids is collected in one job and finished by a path-compressing
  *    union-find on the driver. Real dedup pair lists are this small
  *    (25 edges at sf0.01, 256 at sf0.1 — SCALE.md), and there every
  *    Spark job of the loop below is fixed cost, not work.
  *  - Distributed: alternating large-star / small-star edge rewiring
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC'14). Each round is window-min + rewire over the CURRENT edge
  *    list only — no adjacency lists are ever collected (a
  *    collect_list of a hub's neighbors can't spill; the shuffled
  *    formulation can), so a 100 TB edge set with power-law hubs still
  *    partitions. Converges in O(log n) rounds to a star forest whose
  *    roots are the component minima; a naive min-label propagation
  *    needs O(diameter) rounds — a 1000-long dup chain would take 1000
  *    shuffles. Here driver-side work is the fixpoint loop only (same
  *    contract as plans/RecursiveCte): each probed iteration is one
  *    Spark job whose convergence probe doubles as the checkpoint
  *    materializer; localCheckpoint cuts lineage, superseded
  *    checkpoints are released.
  */
object Clustering {

  private def release(df: DataFrame): Unit =
    GraftSqlShim.unpersistLocalCheckpoint(df)

  /** One large-star + small-star round, fused to THREE exchanges (r15,
    * r14 verdict #2: the groupBy+join formulation spent ~7 exchanges per
    * round and the loop was scheduling-bound on small edge sets).
    *
    * Each star's "min over the neighborhood + rewire every neighbor" is
    * ONE window aggregate over the same hash(u) exchange instead of a
    * groupBy(u) exchange followed by a join(u) exchange: every row sees
    * its group min in place (default frame = whole partition; WindowExec
    * sorts by u only). Iterate equivalence to the Kiveris et al.
    * formulation, proven row-wise:
    *  - large-star: for each symmetrized row (u, v) with v > u, emit
    *    (v, m) where m = min(N(u) ∪ u) — identical MULTISET to the old
    *    filter(v>u) ⋈ groupBy-min (one emission per qualifying row).
    *    Output is oriented u > v (v > old u ≥ m).
    *  - small-star input needs no distinct(): its min is duplicate-
    *    insensitive and the final distinct() dedups the rewired edges —
    *    dropping it removes the third exchange the old shape paid.
    *  - small-star: per row (u, v) with m = min(v) over group u, emit
    *    (v, m) when v ≠ m and (u, m) when v = m. Every group has ≥ 1
    *    row with v = m (m is one of the v's), so the emitted SET equals
    *    the old rewired ∪ mins — and the result is distinct()'ed, so
    *    the fixpoint iterates are bit-identical. */
  private[graft] def ccRound(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("u")
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val ls = sym
      .withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u") && col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    ls.withColumn("m", min(col("v")).over(w))
      .select(
        when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
        col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Component assignment for every vertex of the pair list: returns
    * (id, component) with component = the smallest vertex id reachable
    * through the pairs (so cluster representatives are deterministic —
    * the min-id doc survives dedup, as in exactDedup).
    *
    * `edges` is undirected; self-pairs and duplicates are tolerated.
    * Vertex ids may be any orderable type (both columns must agree). A
    * pair with a null endpoint adds its other endpoint as a vertex and
    * one (null, null) row. Edge lists of at most `DriverEdges` rows with
    * LongType or IntegerType ids are finished on the driver, always
    * exactly; larger or other-typed lists run the distributed loop.
    */
  def connectedComponents(
      edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val ein = edgeList(edges, aCol, bCol)
    onDriver(ein) match {
      case Some(out) => release(ein); out
      case None => starForest(ein)
    }
  }

  /** The distributed loop whatever the input size — the same result as
    * `connectedComponents`; tests hold the two paths to one law. */
  private[graft] def connectedComponentsDistributed(
      edges: DataFrame, aCol: String, bCol: String): DataFrame =
    starForest(edgeList(edges, aCol, bCol))

  /** Edge lists up to this many rows are finished on the driver. On 4
    * cores the driver path won at every size measured, 2^12..2^20 edges,
    * chains and cliques (SCALE.md, "Dedup — cluster assignment"), so the
    * cap bounds driver heap, not time: at 2^16 disjoint pairs (the most
    * vertices per edge) the call allocates 82 MB on the driver thread
    * and the local result holds 15 MB; at 2^18, 305 MB and 59 MB. */
  private[graft] val DriverEdges: Int = 1 << 16

  /** Rounds after which the distributed loop stops, converged or not. */
  private val MaxRounds = 50

  // materialize the pair list ONCE: it feeds the size probe, the loop
  // seed, the vertex set, and the final assignment — without this a
  // costly candidate-generation plan (e.g. exact ngram pairs) re-executes
  // per consumer. Both paths release it before returning.
  private def edgeList(edges: DataFrame, aCol: String, bCol: String) =
    Materialize.checkpoint(
      edges.select(col(aCol).as("u"), col(bCol).as("v")), eager = true)

  /** Collects at most `DriverEdges + 1` edges in one job (coalesce(1)
    * keeps `limit` from scanning the partitions in several rounds). If
    * they all fit, union-find with path compression, rooting each union
    * at the smaller id, so every root is its component's minimum. The
    * rows and schema are the loop's: every distinct endpoint once, and
    * one (null, null) row if any endpoint is null. */
  private def onDriver(ein: DataFrame): Option[DataFrame] = {
    val (uf, vf) = (ein.schema("u"), ein.schema("v"))
    val isLong = uf.dataType == LongType
    if (uf.dataType != vf.dataType || !(isLong || uf.dataType == IntegerType))
      return None
    val rows = ein.coalesce(1).limit(DriverEdges + 1).collect()
    if (rows.length > DriverEdges) return None
    val ids = new Array[Long](2 * rows.length)
    val parent = new Array[Int](2 * rows.length)
    val index = new scala.collection.mutable.LongMap[Int](2 * rows.length)
    var n = 0
    var sawNull = false
    def vertex(r: Row, i: Int): Int =
      if (r.isNullAt(i)) { sawNull = true; -1 }
      else {
        val x = if (isLong) r.getLong(i) else r.getInt(i).toLong
        index.getOrElseUpdate(x, { ids(n) = x; parent(n) = n; n += 1; n - 1 })
      }
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (parent(y) != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    rows.foreach { r =>
      val (a, b) = (vertex(r, 0), vertex(r, 1))
      if (a >= 0 && b >= 0) {
        val (ra, rb) = (find(a), find(b))
        if (ids(ra) < ids(rb)) parent(rb) = ra
        else if (ids(rb) < ids(ra)) parent(ra) = rb
      }
    }
    def box(x: Long): Any = if (isLong) x else x.toInt
    val out = (0 until n).map(k => Row(box(ids(k)), box(ids(find(k))))) ++
      (if (sawNull) Seq(Row(null, null)) else Nil)
    val nullable = uf.nullable || vf.nullable
    val schema = StructType(Seq(
      StructField("id", uf.dataType, nullable),
      StructField("component", uf.dataType, nullable)))
    Some(ein.sparkSession.createDataFrame(
      java.util.Arrays.asList(out: _*), schema))
  }

  /** The distributed large-star / small-star fixpoint over `ein`. */
  private def starForest(ein: DataFrame): DataFrame = {
    // edge-set fingerprint: (count, xor of row hashes) — order-free,
    // overflow-free under ANSI; probe job doubles as materializer
    def probe(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var e = Materialize.checkpoint(
      ein.filter(col("u") =!= col("v")).distinct(), eager = false)
    var sig = probe(e)
    var i = 0
    var converged = sig._1 == 0
    // probe every 2nd round (r15, r14 verdict #2): the probe is a full
    // agg job, and on small edge sets the loop is job-launch-bound —
    // chaining two rounds into one probed job halves the barrier count.
    // Correct because the round function is deterministic and converges
    // monotonically (Kiveris et al.: a potential strictly decreases
    // until the star-forest fixpoint, so no cycles of length > 1):
    // sig(e_{k}) == sig(e_{k-2}) only at the fixpoint, detected at most
    // 2 (cheap, already-converged) rounds late — the final edge set is
    // the same star forest either way, so assignments are unchanged.
    while (i < MaxRounds && !converged) {
      val steps = math.min(2, MaxRounds - i)
      var nx = e
      for (_ <- 1 to steps) nx = ccRound(nx)
      val next = Materialize.checkpoint(nx, eager = false)
      val nsig = probe(next)
      release(e)
      e = next
      converged = nsig == sig // star forest ⇒ both stars are identity
      sig = nsig
      i += steps
    }
    // star forest: every non-root has exactly one edge (id → root);
    // min() guards the MaxRounds-truncated case, roots map to themselves
    val verts = ein.select(col("u").as("id"))
      .union(ein.select(col("v").as("id")))
      .distinct()
    val assign = e.groupBy(col("u").as("id")).agg(min(col("v")).as("cc"))
    val out = Materialize.checkpoint(
      verts.join(assign, Seq("id"), "left")
        .select(col("id"), coalesce(col("cc"), col("id")).as("component")),
      eager = true)
    // the eager output copy owns the data now — drop the (edge-sized)
    // intermediate checkpoints instead of leaving them to driver GC
    release(e)
    release(ein)
    out
  }

  /** Cluster-and-keep: drop every row whose id sits in a pair cluster
    * but is not its representative (the min id). Rows never paired
    * survive untouched — dedup semantics over any candidate generator.
    * `pairs` carries the pair ids as `id_a`, `id_b`. */
  def dedupByPairs(
      df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }
}
