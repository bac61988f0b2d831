package graft.operators

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge DataFrame — the clustering
  * stage that replaces the reference's master-pointer resolution
  * (R:.../datalake/models/Subject.scala `master: UUID`, SURVEY.md §2 B10)
  * with cluster_id = min member id per component.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) expressed as
  * DataFrame joins — no GraphX (north rule), no driver-side graph. Converges
  * in O(log^2 n) rounds, each two star passes of one exchange each,
  * `localCheckpoint`ed to truncate lineage, which is what survives a
  * 10^12-edge input on a real cluster. The loop stops at the first star
  * forest ([[isStarForest]]), the fixpoint, with no confirming round. A
  * round is 3 Spark jobs plus the star test's 2: under AQE (on by default)
  * even a lazy `localCheckpoint(false)` runs each shuffle map stage of its
  * plan at once, one per star pass and one for small-star's distinct.
  * Each star pass joins an aggregate back to the exchange it was computed
  * from, and so does the final leaves join to the node universe; the
  * three are hinted to a sort-merge join. Unhinted, AQE turned each into
  * a broadcast of the aggregate at small sizes (one more job per pass,
  * its build side flipping from run to run), while at scale they are
  * shuffle joins anyway: the hint gives every size the large-input plan.
  * An iterate's predecessor is released once the iterate has been read
  * by its star test, so only the iterate the result reads stays cached.
  *
  * Works for any orderable id type (long doc ids, string image ids): min is
  * the column type's native ordering, so results are comparable with a SQL
  * oracle computing the same min-label closure.
  */
object ConnectedComponents extends Logging {

  /** @param edges (a, b) pairs, same orderable type; self-loops/dups allowed.
    * @param nodes optional (id) universe — rows with no edges become
    *              singleton clusters.
    * @param store optional reliable checkpoint: every `checkpointEvery`
    *              iterations the edge state is committed through the
    *              [[graft.pipeline.StageStore]] (stage `cc_edges_<i>`) and a
    *              restarted run RESUMES from the latest committed iteration
    *              instead of iterating from scratch. `localCheckpoint` alone
    *              is not fault-tolerant on executor loss (round-2 verdict
    *              note) — on a real cluster pass the job's Iceberg-backed
    *              store. Same single-writer/one-namespace-per-input contract
    *              as every StageStore use: resuming against different input
    *              edges serves stale state.
    * @param edgesCanonical the caller GUARANTEES edges are already
    *        distinct with a < b (e.g. SkewSalting pair outputs) — skips
    *        the initial normalize+distinct pass (one exchange + one scan).
    *        Passing true for non-canonical edges yields wrong clusters;
    *        leave false when unsure.
    * @return (id, cluster_id) with cluster_id = min id of the component. */
  def run(spark: SparkSession, edges: DataFrame, nodes: Option[DataFrame] = None,
          maxIter: Int = 50,
          store: Option[graft.pipeline.StageStore] = None,
          checkpointEvery: Int = 10,
          edgesCanonical: Boolean = false): DataFrame = {
    val idType = edges.schema("a").dataType
    require(edges.schema("b").dataType == idType, "edge endpoints must share a type")

    // Resume point: the highest committed cc_edges_<i> stage, if any.
    // Probed over EVERY index 1..maxIter, not the current
    // (checkpointEvery, maxIter) grid — a rerun with a different
    // checkpointEvery must still find (and resume from the latest of) the
    // commits the previous run actually made (ADVICE r3). maxIter isDone
    // probes are catalog lookups, negligible next to one CC iteration.
    val startIter = store.map { st =>
      (1 to maxIter).filter(i => st.isDone(s"cc_edges_$i")).lastOption.getOrElse(0)
    }.getOrElse(0)

    var e =
      if (startIter > 0)
        // isDone just returned true, so compute is never forced
        store.get.stage(s"cc_edges_$startIter")(
          sys.error("unreachable: completed stage must not recompute"))
      else if (edgesCanonical)
        edges.select(col("a"), col("b")).localCheckpoint(false)
      else edges.select(col("a"), col("b")).where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
        .localCheckpoint(false)

    // The input is always stepped (never probed first); a resumed iterate
    // is already one step in, so it is tested before stepping again.
    var converged = startIter > 0 && isStarForest(e)
    var iter = startIter
    while (!converged && iter < maxIter) {
      val stepped = smallStar(largeStar(e))
      iter += 1
      val next = store match {
        case Some(st) if iter % checkpointEvery == 0 =>
          st.stage(s"cc_edges_$iter")(stepped) // reliable commit replaces localCheckpoint
        case _ => stepped.localCheckpoint(false)
      }
      converged = isStarForest(next)
      // the star test computed every block of `next` and so cut its
      // lineage: nothing reads `e` any more
      release(e)
      e = next
    }
    logInfo(s"connected components: ${iter - startIter} iterations after resuming at $startIter")
    // Fail loudly rather than emit wrong clusters: the star extraction below
    // is only correct at the fixpoint. 50 rounds covers graphs far beyond
    // any realistic dedup input (convergence is O(log^2 n) rounds).
    require(converged,
      s"connected components did not converge within $maxIter iterations; " +
        "raise maxIter — emitting non-fixpoint stars would be incorrect")

    // At the fixpoint every leaf b has exactly one edge, to its root a (the
    // component's min), and roots are never leaves: (b → a) needs no
    // distinct, and a node that is no leaf is its own root.
    val leaves = e.select(col("b").as("id"), col("a").as("cluster_id"))
    nodes match {
      case Some(n) =>
        n.select(col("id")).distinct()
          .join(leaves.hint("merge"), Seq("id"), "left")
          .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      case None =>
        leaves.union(e.select(col("a").as("id"), col("a").as("cluster_id")).distinct())
    }
  }

  /** large-star: for each node u, link every neighbor v > u to
    * m(u) = min(Γ(u) ∪ {u}). Keeps high-degree work on the small side.
    * NO trailing distinct: the duplicates it removed are re-removed by
    * [[smallStar]]'s distinct in the same iteration (min-aggregates are
    * multiplicity-blind, so the fixpoint is unchanged) — one exchange per
    * iteration saved, measured plan-identical results. */
  private[operators] def largeStar(e: DataFrame): DataFrame = {
    // ONE exchange per star pass: the neighbor table is hash-repartitioned
    // on its grouping key once, so the min-aggregate runs exchange-free on
    // top of it and the aggregate⋈neighbors join reuses the same exchange
    // (both consumers share the identical repartition subtree —
    // ReuseExchange). Previously the aggregate and the join each shuffled
    // the neighbor table separately (guide §2.4: two operations keyed the
    // same way share one exchange).
    // each edge is read once and emitted both ways: a union of two reads
    // of a not yet materialized checkpoint computes it twice, concurrently
    val nbrs = e.select(inline(array(struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))))
      .repartition(col("a"))
    val m = nbrs.groupBy(col("a").as("u"))
      .agg(min(col("b")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    // `b > a` sits in the projection, not in a filter: the optimizer would
    // push a filter on nbrs below the repartition, which then no longer
    // matches the aggregate's, so nbrs would be shuffled, and `e` read,
    // twice. A null `a` (b ≤ a) fails the final filter.
    nbrs.join(m.hint("merge"), nbrs("a") === m("u"))
      .select(when(col("b") > col("a"), least(col("b"), col("m"))).as("a"),
        greatest(col("b"), col("m")).as("b"))
      .where(col("a") =!= col("b"))
  }

  /** small-star: orient edges to (u=max, v=min); link every small neighbor
    * (and u itself) to m(u) = min small neighbor. */
  private[operators] def smallStar(e: DataFrame): DataFrame = {
    // same single-exchange shape as largeStar: repartition on u once,
    // aggregate and join both ride it
    val oriented = e.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .where(col("u") =!= col("v"))
      .repartition(col("u"))
    val m = oriented.groupBy("u").agg(min(col("v")).as("m"))
    oriented.join(m.hint("merge"), "u")
      .select(least(col("v"), col("m")).as("a"), greatest(col("v"), col("m")).as("b"))
      .where(col("a") =!= col("b"))
      .union(m.select(col("m").as("a"), col("u").as("b")))
      .distinct()
  }

  /** Drops the blocks of a `localCheckpoint`ed iterate (CC's own: its
    * input checkpoint or a round's); a stage served from a durable store
    * holds none. No job. */
  private def release(e: DataFrame): Unit = Some(e.queryExecution.logical).collect {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false) }

  /** The fixpoint test: `e` (a < b, as every star pass emits) is a star
    * forest iff every `b` has exactly one edge and no `a` is also a `b`.
    * One grouped aggregate finds the leaves (`up` > 0) with a second edge
    * end; each of its partitions reports only whether it holds one, which
    * spares a global count's second exchange. */
  private def isStarForest(e: DataFrame): Boolean =
    !e.select(inline(array(struct(col("a").as("id"), lit(0L).as("leaf")),
        struct(col("b").as("id"), lit(1L).as("leaf")))))
      .groupBy("id").agg(sum("leaf").as("up"), count(lit(1)).as("deg"))
      .where(col("up") > 0L && col("deg") > 1L)
      .mapPartitions(rows => Iterator.single(rows.hasNext))(Encoders.scalaBoolean)
      .collect().contains(true)
}
