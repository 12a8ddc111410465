package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental connected-components LABEL STATE — the
  * [[ConnectedComponents.maintain]] fold given a state protocol whose
  * per-wave WRITE **and READ** are as incremental as its compute.
  *
  * `maintain` condenses a wave's new edges through the stored labels
  * and relabels in O(batch + touched components) — but a naive
  * deployment then rewrites the ENTIRE node-grain label table per wave
  * (O(all nodes) state IO, which at corpus scale drowns everything the
  * fold saved: the dedup-group refresh of a 100 TB pipeline would
  * rewrite billions of node labels to absorb a million-edge batch).
  * This index keeps labels in a [[DeltaStore]] and commits per wave
  * ONLY the rows the wave actually moved:
  *
  *   - nodes of old components whose label CHANGED (their component
  *     merged into a smaller-id one) — bounded by the touched
  *     components' sizes;
  *   - brand-new nodes — bounded by the batch.
  *
  * READ pruning: the label rows live in id-hash buckets (stable per
  * node, so latest-wins resolve is exact within any bucket subset),
  * and every per-wave read touches only the buckets it needs —
  * never the full store:
  *
  *   - CONDENSE needs the batch endpoints' current labels — pruned to
  *     the endpoints' id buckets;
  *   - FRESH needs presence checks for the condensed node ids — every
  *     stored condensed id x is a component label, and a label is its
  *     own component's min member, so x's row lives in bucket gb(x):
  *     pruned to the condensed ids' buckets;
  *   - CHANGED needs every member of the components whose label moved
  *     — keyed by `comp`, which id-bucketing cannot prune. A second
  *     grouped table `c2b` (comp, idb) — the distinct (component
  *     label, id-bucket) pairs of each delta, itself bucketed by
  *     gb(comp) — is the comp access path: read c2b pruned to the
  *     touched comps' buckets, semi-join to the exact comp set, and
  *     the surviving idb values (a driver collect bounded by the
  *     bucket count) prune the label read. A node's CURRENT row with
  *     comp c was written by some live delta whose c2b recorded
  *     (c, gb(id)), so the pruned read covers every current member;
  *     stale pairs (a comp no longer present in a bucket) cause
  *     over-reads only, and [[compact]] rebuilds c2b from the folded
  *     labels, dropping them.
  *
  * Both tables commit per wave in ONE grouped atomic delta
  * ([[DeltaStore.appendTables]]), so no reader ever sees labels at a
  * different wave horizon than the comp map that prunes them.
  *
  * The read side resolves LATEST-WINS per node (each delta carries its
  * wave id; a node's current label is its row from the highest wave) —
  * an associative, idempotent fold that doubles as the [[compact]]
  * fold, exactly the [[Scd2Index]] stitch discipline. Soundness is
  * [[ConnectedComponents.maintain]]'s: merging is monotone under edge
  * appends and order-independent, so any batching folds to the
  * one-shot labels (q219 is gated by q62's recursive-closure oracle
  * VERBATIM; CcIndexSpec additionally pins the per-wave commit bound
  * and replay idempotence, and asserts the pruned reads touch a
  * strict subset of the buckets on a multi-bucket corpus).
  *
  * Replay contract: [[appendWave]] reads prior state EXCLUDING its own
  * wave's delta, so a checkpoint replay of an already-committed wave
  * recomputes bit-identical rows and replaces its delta — which also
  * makes the index safe to drive from a Structured Streaming
  * foreachBatch with wave id = the streaming batch id (q221). The
  * bit-identical guarantee holds only while the wave's delta is still
  * LIVE: once [[compact]] folds it into the base, `excludeDelta`
  * cannot remove its rows from the prior read, so a replay writes an
  * empty delta instead (labels stay correct via latest-wins, but the
  * rows differ). Mirroring [[DeltaStore.compact]]'s "only compact
  * durably-committed batches" rule: stream operators must not compact
  * between [[appendWave]] and the checkpoint commit of that batch —
  * compact at the START of the next batch (before its append), when
  * every folded wave is durably past replay.
  *
  * The EMPTY-STATE wave (first wave, or a replay of it) is the whole
  * graph, whose diameter is unbounded — label propagation's
  * diameter-rounds contract does not apply. It still runs label
  * propagation FIRST (near-dup clusters are tight — diameter rounds,
  * each two keyed joins), but on non-convergence falls back to
  * [[ConnectedComponents.componentsStar]] (O(log² n) rounds on any
  * graph, same min-label output — q63 gates it on the identical
  * oracle) instead of aborting: the committed labels are final either
  * way, never truncated. Later waves fold the CONDENSED graph (batch
  * + touched component labels, diameter ~small) through
  * [[ConnectedComponents.components]], which THROWS on
  * non-convergence rather than committing truncated labels.
  *
  * Node ids are STRINGS here (the dedup-grouping shape: document/part
  * names); `comp` = MIN reachable id in STRING order, matching
  * [[ConnectedComponents]] over string columns. Numeric-id graphs
  * format fixed-width before indexing (min semantics follow the id
  * type's ordering) — ENFORCED: [[appendWave]] rejects non-string
  * edge columns rather than silently grouping by lexicographic order
  * of digit strings.
  */
final case class CcIndex(root: String) extends Maintained {
  import CcIndex._

  val store: DeltaStore = DeltaStore(root)

  /** Fold one wave of new undirected edges (two STRING columns) into
    * the stored labels, committing ONLY changed + brand-new node rows
    * (one atomic grouped delta: labels + their comp→bucket map). */
  def appendWave(spark: SparkSession, newPairs: DataFrame, waveId: Int,
                 maxIter: Int = 20): Unit = {
    require(newPairs.schema.fields.take(2).forall(_.dataType == StringType),
      s"CcIndex: edge columns must be STRING (got ${newPairs.schema
        .fields.take(2).map(_.dataType.simpleString).mkString(", ")}) — " +
        "min-label semantics follow string order, so numeric ids must be " +
        "formatted fixed-width before indexing")
    store.heal()
    val e = newPairs.toDF("a", "b")
    // the per-wave pinned intermediate (cond), released after the commit
    var pinned: Option[DataFrame] = None
    // prior live entries EXCLUDING this wave's own delta (replay):
    // empty means this wave is the whole graph
    val priorEntries = store.live(None)
      .filterNot { case (isBase, id, _) => !isBase && id == waveId }
    val delta =
      if (priorEntries.isEmpty) {
        // empty-state wave: the raw batch IS the graph, whose diameter
        // is unbounded — label propagation first (near-dup clusters are
        // tight: diameter rounds, each two keyed joins), star
        // contraction as the any-diameter fallback (O(log² n) rounds)
        // instead of aborting; either way the committed labels are
        // final, never truncated
        try ConnectedComponents.components(e, maxIter).select("id", "comp")
        catch {
          case _: IllegalStateException =>
            ConnectedComponents.componentsStar(e).select("id", "comp")
        }
      } else {
        def readLab(phase: String, touched: Seq[Int]): DataFrame = {
          onPrunedRead(phase, touched)
          resolve(store.read(spark, schema, Some(touched),
            table = Some("lab"), excludeDelta = Some(waveId)))
        }
        // condense endpoints through stored labels (unseen endpoints
        // keep themselves) — the maintain() move, reading only the
        // endpoints' id buckets
        val endpointBuckets = store.touched(
          e.select(col("a").as("k")).unionAll(e.select(col("b").as("k"))),
          col("k"))
        val endpointLabels = readLab("condense", endpointBuckets)
          .select("id", "comp")
        val condensed = e
          .join(endpointLabels.select(col("id").as("a"), col("comp").as("ca")),
            Seq("a"), "left")
          .join(endpointLabels.select(col("id").as("b"), col("comp").as("cb")),
            Seq("b"), "left")
          .select(coalesce(col("ca"), col("a")).as("a"),
            coalesce(col("cb"), col("b")).as("b"))
        // THROWS on non-convergence — a truncated fold must never
        // commit; the condensed graph is batch + touched component
        // labels, diameter small by construction. Tiny: reused by four
        // pruning reads below, so cut its iterative lineage once.
        val cond = ConnectedComponents.components(condensed, maxIter)
          .localCheckpoint()
        pinned = Some(cond)
        // members of old components whose label moved: keyed by comp —
        // route through the c2b access path: comp buckets of the
        // condensed ids -> exact comp set -> their id buckets
        val condBuckets = store.touched(cond, col("id"))
        onPrunedRead("c2b", condBuckets)
        val c2b = store.read(spark, c2bSchema, Some(condBuckets),
          table = Some("c2b"), excludeDelta = Some(waveId))
        val memberBuckets = c2b
          .join(cond.select(col("id").as("comp")), Seq("comp"), "left_semi")
          .select("idb").distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        val memberLabels = readLab("changed", memberBuckets)
          .select("id", "comp")
        val changed = memberLabels
          .join(cond.select(col("id").as("comp"), col("comp").as("newc")),
            Seq("comp"))
          .where(col("newc") =!= col("comp"))
          .select(col("id"), col("newc").as("comp"))
        // condensed nodes absent from the old labels are brand-new ids
        // — every STORED condensed id is a component label, and a label
        // is its own component's min member, so presence prunes to the
        // condensed ids' own buckets
        val freshLabels = readLab("fresh", condBuckets).select("id")
        val fresh = cond.join(freshLabels, Seq("id"), "left_anti")
          .select("id", "comp")
        changed.unionByName(fresh)
      }
    val lab = delta
      .withColumn("wave", lit(waveId))
      .withColumn("tbl", lit("lab"))
      .withColumn("gbucket", store.gb(col("id")))
    val c2bNew = delta
      .select(col("comp"), store.gb(col("id")).as("idb"))
      .distinct()
      .withColumn("tbl", lit("c2b"))
      .withColumn("gbucket", store.gb(col("comp")))
    store.appendTables(
      lab.unionByName(c2bNew, allowMissingColumns = true),
      waveId, within = Seq(coalesce(col("id"), col("comp"))))
    pinned.foreach(graft.Q.unpin)
  }

  /** The maintained node-grain labels: (id, comp) for every node seen
    * so far — latest-wins over the live deltas. */
  def labels(spark: SparkSession): DataFrame =
    resolve(store.read(spark, schema, None, table = Some("lab")))
      .select("id", "comp")

  /** Fold the per-wave deltas into one resolved base (atomic grouped
    * commit); the comp→bucket map is REBUILT from the folded labels,
    * dropping stale pairs, so read pruning stays exact after compact.
    * Only compact waves that are durably past replay (see the replay
    * contract above). */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compactTables(spark, Seq(
      ("lab", schema, col("id"), (df: DataFrame) => resolve(df)),
      ("c2b", c2bSchema, col("comp"),
        (_: DataFrame) =>
          resolve(store.read(spark, schema, None, asOf = upTo,
            table = Some("lab")))
            .select(col("comp"), store.gb(col("id")).as("idb"))
            .distinct())),
      upTo)
}

object CcIndex {

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("comp", StringType),
    StructField("wave", IntegerType)))

  private val c2bSchema = StructType(Seq(
    StructField("comp", StringType), StructField("idb", IntegerType)))

  /** Test seam: invoked on every pruned state read with (phase,
    * buckets-read) — CcIndexSpec asserts the per-wave reads touch a
    * strict subset of the buckets. Production leaves it a no-op. */
  private[graft] var onPrunedRead: (String, Seq[Int]) => Unit = (_, _) => ()

  /** Latest-wins per node — the resolve/compact fold: a node's current
    * label is its highest-wave row. Associative (max-wave row of a
    * union = max-wave row of per-part winners) and idempotent. A
    * node's rows all share its id bucket, so the fold is exact over
    * any bucket subset. */
  private def resolve(rows: DataFrame): DataFrame =
    rows
      .withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("wave").desc)))
      .where(col("__rn") === 1)
      .select("id", "comp", "wave")
}
