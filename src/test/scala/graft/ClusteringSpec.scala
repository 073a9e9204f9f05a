package graft

import graft.pipeline.{Clustering, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components properties: equivalence with a test-local
  * union-find on random graphs (chains force many label hops, so a
  * naive one-round propagation would fail), star-forest fixpoint
  * stability, null and IntegerType endpoints, size dispatch, and
  * dedupByPairs semantics. Every law is checked on both paths: the
  * driver union-find `connectedComponents` takes on small edge lists,
  * and the distributed loop. */
class ClusteringSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    verts.map(v => v -> find(v)).toMap
  }

  private def local(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** (path name, components) for both paths; the driver path must really
    * be taken on these small inputs. */
  private def bothPaths(edges: DataFrame, a: String, b: String)
      : Seq[(String, DataFrame)] = {
    val driver = Clustering.connectedComponents(edges, a, b)
    assert(local(driver), "small edge list did not take the driver path")
    val loop = Clustering.connectedComponentsDistributed(edges, a, b)
    assert(!local(loop))
    assert(driver.schema === loop.schema)
    Seq("driver" -> driver, "loop" -> loop)
  }

  private def asMap(cc: DataFrame): Map[Long, Long] =
    cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Asserts both paths equal the union-find oracle on `edges`. */
  private def checkBoth(edges: Seq[(Long, Long)], clue: String = ""): Unit = {
    import spark.implicits._
    val want = unionFind(edges)
    for ((path, cc) <- bothPaths(edges.toDF("a", "b"), "a", "b"))
      assert(asMap(cc) === want, s"$path $clue")
  }

  test("matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 20
      val edges = Seq.fill(n) {
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
      checkBoth(edges, s"trial $trial")
    }
  }

  test("long chain collapses to one component (log-round convergence)") {
    val chain = (0L until 200L).sliding(2).map(s => (s(1), s(0))).toSeq
    import spark.implicits._
    for ((path, cc) <- bothPaths(chain.toDF("a", "b"), "a", "b")) {
      val m = asMap(cc)
      assert(m.size === 200, path)
      assert(m.values.toSet === Set(0L), path)
    }
  }

  test("self-loops and duplicate/reversed edges are tolerated") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (5L, 4L), (7L, 7L))
    assert(unionFind(edges) === Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L,
      7L -> 7L))
    checkBoth(edges)
  }

  test("null endpoints give the same rows on both paths") {
    // the loop drops null-ended edges from the fixpoint but keeps every
    // endpoint as a vertex: the non-null end stands alone, and the null
    // end becomes one (null, null) row
    import spark.implicits._
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), None), (None, Some(1L)), (Some(2L), Some(3L)), (None, None),
      (Some(3L), None), (Some(4L), Some(4L))).toDF("a", "b")
    val want = Set[(Option[Long], Option[Long])](
      Some(1L) -> Some(1L), Some(2L) -> Some(2L), Some(3L) -> Some(2L),
      Some(4L) -> Some(4L), None -> None)
    for ((path, cc) <- bothPaths(edges, "a", "b")) {
      val rows = cc.collect().toSeq.map { r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]),
          Option(r.get(1)).map(_.asInstanceOf[Long]))
      }
      assert(rows.size === want.size, path)
      assert(rows.toSet === want, path)
    }
  }

  test("IntegerType ids keep their type and match union-find") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(80), rnd.nextInt(80)))
    val want = unionFind(edges.map(e => (e._1.toLong, e._2.toLong)))
    for ((path, cc) <- bothPaths(edges.toDF("a", "b"), "a", "b")) {
      assert(cc.schema.map(_.dataType) === Seq(IntegerType, IntegerType), path)
      val got = cc.collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong)
      assert(got.toMap === want, path)
    }
  }

  test("DriverEdges + 1 disjoint pairs take the loop and match union-find") {
    // disjoint pairs are a star forest already: the loop converges in
    // its first probed iteration, so this stays cheap
    import spark.implicits._
    val edges = (0L to Clustering.DriverEdges.toLong).map(k => (2 * k, 2 * k + 1))
    val cc = Clustering.connectedComponents(edges.toDF("a", "b"), "a", "b")
    assert(!local(cc), s"${edges.size} edges took the driver path")
    assert(asMap(cc) === unionFind(edges))
    val atCap = Clustering.connectedComponents(
      edges.tail.toDF("a", "b"), "a", "b")
    assert(local(atCap), s"${edges.size - 1} edges took the loop")
    assert(asMap(atCap) === unionFind(edges.tail))
  }

  test("dedupByPairs keeps exactly the cluster minima plus unpaired rows") {
    import spark.implicits._
    val df = (1L to 10L).map(i => (i, s"row$i")).toDF("id", "payload")
    val pairs = Seq((2L, 3L), (3L, 7L), (9L, 8L)).toDF("id_a", "id_b")
    val kept = Clustering.dedupByPairs(df, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 4L, 5L, 6L, 8L, 10L))
  }

  test("reliable-checkpoint escape hatch: same components, storage-backed") {
    // spark.graft.checkpoint.reliable=true routes every Materialize site
    // through Dataset.checkpoint (fault-tolerant, storage-backed) — the
    // r14 verdict #7 escape hatch. Results must be identical to the
    // default localCheckpoint path, and the checkpoint dir must actually
    // receive RDD data.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    spark.conf.set(graft.pipeline.Materialize.ReliableKey, "true")
    try {
      checkBoth(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 12L)))
      val files = java.nio.file.Files.walk(dir.toPath).iterator()
      val sawRddData = Iterator.continually(files)
        .takeWhile(_.hasNext).map(_.next().toString)
        .exists(_.contains("rdd-"))
      assert(sawRddData, "reliable path wrote no checkpoint RDD files")
    } finally {
      spark.conf.unset(graft.pipeline.Materialize.ReliableKey)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("agrees with the recursive-CTE closure on real near-dup pairs") {
    val docs = Engine.table(spark, "/root/testdata/sf0.01", "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .select(col("id_a"), col("id_b")).persist()
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.nonEmpty)
    val want = unionFind(edges)
    for ((path, cc) <- bothPaths(pairs, "id_a", "id_b"))
      assert(asMap(cc) === want, path)
    pairs.unpersist()
  }
}
