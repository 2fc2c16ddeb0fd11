package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the step that
  * turns pairwise dup edges (minhash/simhash/ngram/embedding pairs) into
  * dedup CLUSTERS with one canonical representative each, which is what a
  * training-data pipeline actually deletes against.
  *
  * Min-label propagation: every node starts labeled with its own id; each
  * round every node takes the minimum label among itself and its neighbors;
  * fixpoint = components labeled by their minimum member id. One shuffle
  * (edge ⋈ labels) + one aggregation per round; rounds = component diameter.
  * Near-dup clusters are dense and shallow (a dup group's diameter is a few
  * hops), so convergence is typically 2-4 rounds — for adversarial
  * long-chain graphs the large-star/small-star variant (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) bounds rounds
  * at O(log²n); the propagation loop below is the same join shape, so the
  * star steps can be swapped in without changing the interface.
  *
  * Iteration discipline at scale: each round's label frame is an eager
  * [[Materialize.checkpoint]] — without truncation the lineage doubles per
  * round and a downstream action would re-execute the whole ladder. A
  * superseded round is released as soon as its successor has materialized,
  * so the returned frame reads the only checkpoint left; free it with
  * [[Materialize.release]] once the labels are consumed.
  *
  * Convergence is detected with a one-row checksum action per round:
  * per-node labels are monotonically non-increasing, so the label sum
  * strictly decreases until fixpoint. The
  * sum is taken in DECIMAL(38,0): a LongType sum overflows (ANSI: a
  * job-killing throw; non-ANSI: silent wrap that could alias the equality
  * check) at billion-row corpora with 64-bit hash-derived ids, while 38
  * digits hold ~10^12 ids of magnitude 2^63 exactly.
  */
object ConnectedComponents {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact label checksum; NULL (zero rows) coalesces to 0 so an empty edge
    * set converges on the first round instead of NPE-ing on a null slot. */
  private def checksumOf(labels: DataFrame): java.math.BigDecimal = {
    val row = labels.agg(sum(col("rep").cast("decimal(38,0)"))).head()
    if (row.isNullAt(0)) java.math.BigDecimal.ZERO else row.getDecimal(0)
  }

  /** Components of the undirected graph given by (`srcCol`, `dstCol`) pairs.
    * Output: (id, rep) for every node that appears in any edge, where `rep`
    * is the component's minimum member id. If the fixpoint is not reached
    * within `maxIter` rounds (possible only when some component's diameter
    * exceeds `maxIter`), the returned labels are a sound over-partition —
    * every labeled group is a subset of a true component, never a merge of
    * two — and a warning is logged. */
  def components(
      edges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 20
  ): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // symmetric closure once; both directions so min labels flow both ways
    val sym0 = Materialize.checkpoint(
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    // Size the ITERATION exchanges from the materialized edge count — the
    // one number every round's join and aggregate volume actually tracks —
    // instead of the session partition constant (which under-partitions a
    // large edge set every round: the same class of 5M-doc hazard the sized
    // sh_h/pair exchanges fixed in Dedup.ngramJaccard). The count is a
    // cheap post-checkpoint action. When sizing engages, the edge set is
    // re-keyed on `dst` ONCE (and re-checkpointed in that layout — local
    // blocks in, local blocks out, no recomputation): LogicalRDD preserves
    // the hash partitioning, so every round's edge⋈labels join re-exchanges
    // only the skinny label frame while the big edge side stays put.
    val m = sym0.count()
    val floor = edges.sparkSession.sessionState.conf.numShufflePartitions
    // ~48 B of join/sort state per (src, dst) edge row, ~32 MB per task
    val parts = Stage.width(edges, m * 48L / (32L << 20))
    val sym =
      if (parts > floor) {
        val rekeyed = Materialize.checkpoint(sym0.repartition(parts, col("dst")))
        // sym0 is now a dead second copy of the edge set that would sit in
        // block storage for the whole loop; it is never touched again
        Materialize.release(sym0)
        rekeyed
      } else sym0

    var labels = Materialize.checkpoint(sym.select(col("src").as("id")).distinct()
      .withColumn("rep", col("id")))
    var checksum = checksumOf(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val propagated = sym
        .join(labels.withColumnRenamed("id", "dst").hint("SHUFFLE_HASH"), "dst")
        .select(col("src").as("id"), col("rep"))
        .unionByName(labels)
      // pre-key the union on id at the SAME sized count so the min-label
      // aggregate's exchange is priced by the edge volume too (its input is
      // one rep candidate per edge endpoint plus the labels)
      val keyed =
        if (parts > floor) propagated.repartition(parts, col("id")) else propagated
      val next = Materialize.checkpoint(keyed
        .groupBy(col("id"))
        .agg(min(col("rep")).as("rep")))
      val nextSum = checksumOf(next)
      converged = nextSum.compareTo(checksum) == 0
      checksum = nextSum
      // the superseded round's label blocks have no remaining consumer
      Materialize.release(labels)
      labels = next
      iter += 1
    }
    if (!converged)
      log.warn(s"connected-components stopped after maxIter=$maxIter rounds " +
        "without reaching a fixpoint — labels are correct only for components " +
        s"with diameter <= $maxIter; raise maxIter (rounds = diameter) or use " +
        "a star-contraction variant for adversarial long-chain graphs")
    // the labels are checkpointed: the edge set has no consumer left
    Materialize.release(sym)
    labels
  }

  /** One star-contraction step (Kiveris et al., SoCC'14). `large = true`:
    * every node's strictly-larger neighbors re-attach to the minimum of its
    * closed neighborhood. `large = false` (small-star): edges orient toward
    * the smaller endpoint first, then every neighbor — and the center —
    * attaches to that minimum. Self-loops drop; label derivation restores
    * the (m, m) roots. */
  private def star(edges: DataFrame, large: Boolean): DataFrame = {
    val nb =
      if (large)
        edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      else
        edges.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
    val m = nb.groupBy(col("src"))
      .agg(min(least(col("dst"), col("src"))).as("m"))
    val joined = nb.join(m, "src")
    val out =
      if (large)
        joined.filter(col("dst") > col("src"))
          .select(col("dst").as("src"), col("m").as("dst"))
      else
        joined.select(col("dst").as("src"), col("m").as("dst"))
          .unionByName(m.select(col("src"), col("m").as("dst")))
    out.filter(col("src") =!= col("dst")).distinct()
  }

  /** Components by alternating large-star/small-star contraction — the
    * adversarial-diameter path: O(log² n) rounds regardless of component
    * shape, vs [[components]]' rounds = diameter. Same output contract:
    * (id, rep = component minimum) for every node on an edge. Use this when
    * the pair graph may contain long chains (transitive near-dup drift);
    * min-label [[components]] stays the default for the shallow dense
    * clusters LSH dedup actually produces (fewer jobs per round).
    *
    * Convergence is an EXACT edge-set fixpoint — count equality plus an
    * `exceptAll` emptiness probe, no checksum aliasing — two small actions
    * per round on the contracted (always-shrinking-ish) edge list. */
  def componentsStar(
      edges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 50
  ): DataFrame = {
    val e0 = Materialize.checkpoint(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    var e = e0
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = Materialize.checkpoint(star(star(e, large = true), large = false))
      converged = next.count() == e.count() && next.exceptAll(e).isEmpty
      Materialize.release(e)
      e = next
      iter += 1
    }
    if (!converged)
      log.warn(s"star contraction stopped after maxIter=$maxIter rounds " +
        "without an edge-set fixpoint — labels may over-partition")
    // at fixpoint every edge is (member, component-min); roots label themselves
    e.select(col("src").as("id"), col("dst").as("rep"))
      .unionByName(e.select(col("dst").as("id"), col("dst").as("rep")))
      .groupBy(col("id")).agg(min(col("rep")).as("rep"))
  }

  /** Cluster summary: one row per component — canonical (minimum) id,
    * member count, and the member list capped for display. */
  def clusters(edges: DataFrame, srcCol: String = "id_a", dstCol: String = "id_b")
      : DataFrame =
    components(edges, srcCol, dstCol)
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
}
