package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

/** The candidate-pair core every batch dedup family runs on. A family is a
  * CELL table — one row per (id, cell), a cell being a minhash (band,
  * bucket), a Manku simhash (bkey, blk, bits) block or a hyperplane-LSH
  * (ckey, tbl, bucket) bucket — and two operators over it:
  *
  *  - [[collisions]], the cell self-join behind every pair form;
  *  - [[assign]], the survivor assignment behind every survivor form: the
  *    family's id set left-joined to the greedy-star [[eliminations]].
  *
  * The families differ only in their cell columns, the [[Evidence]] a
  * member carries (Jaccard over shingle hashes, popcount within the
  * stamped radius, rounded cosine) and their match predicate; the join
  * shape, the collision rule, the walk and the completion join are
  * written once here, so their semantics cannot drift between families
  * (or between a family's batch and streaming twins, whose state probes
  * build their residuals with the same [[sameCell]]). */
private[graft] object CandidatePairs {

  /** The representatives a cell promotes at most (see [[eliminations]]):
    * a full cell's non-matches survive unpromoted, so an adversarial
    * all-distinct cell costs members·cap comparisons, not C(members, 2). */
  val MaxRepsPerCell = 4096

  /** Equality of the non-key cell columns as `a XOR b === 0` residuals:
    * EqualTo over a both-sides expression, so Catalyst never lifts it into
    * the join keys (a table published bucketed on the one equi-key then
    * self-joins with no exchange), and unlike subtraction it is immune to
    * ANSI long overflow on full-width bit patterns. Semantics against a
    * plain multi-key equi-join are fuzz-pinned in PropertiesSpec on tables
    * whose key collides across cells. */
  def sameCell(pairs: (Column, Column)*): Column =
    pairs.map { case (a, b) => a.bitwiseXOR(b) === lit(0) }.reduce(_ && _)

  /** The cell self-join: every pair of ids that share a cell, once per
    * shared cell, with `id_a < id_b`. `key` is the ONLY equi-key and the
    * `residuals` ride as [[sameCell]]; each `carry` column comes out as
    * `<c>_a` and `<c>_b` (the optimizer prunes the ones a caller never
    * reads). Output: `key`, `<key>_b`, `id_a`, `id_b` and the suffixed
    * residual and carried columns. The input feeds both sides — persist
    * it first ([[graft.core.Scope.persist]]) when it is built inline
    * rather than read from storage. */
  def collisions(cells: DataFrame, idCol: String, key: String,
      residuals: Seq[String], carry: Seq[String] = Nil): DataFrame = {
    def side(s: String, keyCol: Column) = cells.select(keyCol +:
      col(idCol).as(s"id_$s") +: (residuals ++ carry).map(c => col(c).as(s"${c}_$s")): _*)
    side("a", col(key)).join(side("b", col(key).as(s"${key}_b")),
      col(key) === col(s"${key}_b") &&
        sameCell(residuals.map(r => col(s"${r}_a") -> col(s"${r}_b")): _*) &&
        col("id_a") < col("id_b"))
  }

  /** One family's greedy-star evidence. `cols` are read from the cell rows
    * or from the joined-back `source`; `read` turns a member row —
    * `member_id` at 0, then `cols` in order — into evidence, or null when
    * the member cannot match anything and sits the walk out; `matches` is
    * called as (promoted representative, walking member), which matters
    * for evidence carrying per-row knobs (simhash verifies at the MEMBER
    * row's stamped radius). */
  final case class Evidence[E](cols: Seq[Column], read: Row => E,
      matches: (E, E) => Boolean, source: Option[DataFrame] = None)

  /** The members of multi-occupied cells with their evidence columns:
    * (`member_id`, evidence cols…, cell keys…). Singleton cells can
    * neither eliminate nor promote anything, so they semi-join away BEFORE
    * any evidence is fetched. A `source` is corpus-sized — never
    * broadcast-able at scale, and derived corpora under-report their size
    * so badly the planner tries (a 4M-vector probe collected a 1 GB
    * "broadcast" into the driver before the hint) — so it joins back
    * `merge`-hinted. */
  private def members(cells: DataFrame, cellKeys: Seq[String], idCol: String,
      ev: Evidence[_]): DataFrame = {
    val multi = cells.groupBy(cellKeys.map(col): _*)
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select(cellKeys.map(col): _*)
    val occupied = cells.join(multi, cellKeys, "left_semi")
    val withEv = ev.source.fold(occupied)(s => occupied.join(s.hint("merge"), Seq(idCol)))
    withEv.select(col(idCol).as("member_id") +: ev.cols ++: cellKeys.map(col): _*)
  }

  /** A sequential pass over each cell of a [[members]]-shaped frame, its
    * rows id-ascending, emitting (id, dup_of) rows. `flatMapSortedGroups`,
    * NOT repartition + sortWithinPartitions + mapPartitions: the walk's
    * correctness depends on cell co-location, and a bare repartition is
    * only a PREFERENCE to the planner — the initial plan elides it when a
    * child exchange happens to satisfy it, and an AQE replan (e.g.
    * broadcast-converting the occupancy semi-join) can then drop that
    * exchange too, silently leaving cells split across scan partitions
    * (survivors = per-file-chunk minima). A grouped map REQUIRES
    * ClusteredDistribution(key) plus in-group order, which every planner
    * path honors. */
  private def walkCells(members: DataFrame, cellKeys: Seq[String], idCol: String)(
      walk: Iterator[Row] => Iterator[(Long, Long)]): DataFrame = {
    val keyAt = cellKeys.map(members.schema.fieldIndex)
    members
      .groupByKey(r => Row.fromSeq(keyAt.map(r.get)))(
        Encoders.row(StructType(keyAt.map(members.schema(_)))))
      .flatMapSortedGroups(col("member_id"))((_, rows) => walk(rows))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF(idCol, "dup_of")
  }

  /** The survivor assignment: every id of `ids` as `(idCol, dup_of)`,
    * `dup_of` null ⇒ survivor — `ids` left-joined to the [[eliminations]]
    * of `cells`. Every batch survivor form is this call with its family's
    * cells and evidence. `ids` must cover every id of `cells`; a wrapper
    * holding a wider id set (rows with no content, hence no cells) passes
    * that set, and those rows survive. `comparisons` counts match
    * evaluations for the scale probes (a task retry can double-count it —
    * probe metric only). */
  def assign[E](ids: DataFrame, cells: DataFrame, cellKeys: Seq[String],
      idCol: String, ev: Evidence[E],
      comparisons: Option[LongAccumulator] = None): DataFrame =
    ids.join(eliminations(cells, cellKeys, idCol, ev, comparisons),
      Seq(idCol), "left_outer")

  /** The greedy-star survivor walk over a cell table: per cell, members
    * walk id-ascending against the cell's representatives — the first
    * match eliminates, a non-match promotes while the representative set
    * is under `cap` (a full cell's non-matches survive unpromoted:
    * conservative, never over-eliminating). A doc eliminated in several
    * cells reconciles to the smallest eliminating representative,
    * deterministic on any partitioning. Returns one `(idCol, dup_of)` row
    * per ELIMINATED id (survivors absent). `cap` is [[MaxRepsPerCell]]
    * outside the tests that pin its semantics. */
  def eliminations[E](cells: DataFrame, cellKeys: Seq[String], idCol: String,
      ev: Evidence[E], comparisons: Option[LongAccumulator] = None,
      cap: Int = MaxRepsPerCell): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    // the closure takes the functions, never the Evidence (its source is
    // a DataFrame)
    val (read, matches) = (ev.read, ev.matches)
    minDupOf(walkCells(members(cells, cellKeys, idCol, ev), cellKeys, idCol)(rows =>
      greedyStar(rows.flatMap { r =>
        val e = read(r)
        if (e == null) Iterator.empty else Iterator.single((r.getLong(0), e))
      }, matches, cap, comparisons)), idCol)
  }

  /** Keeps the smallest `dup_of` per id. */
  def minDupOf(elim: DataFrame, idCol: String): DataFrame =
    elim.groupBy(idCol).agg(min(col("dup_of")).as("dup_of"))

  private def greedyStar[E](rows: Iterator[(Long, E)], matches: (E, E) => Boolean,
      cap: Int, comparisons: Option[LongAccumulator]): Iterator[(Long, Long)] = {
    val reps = scala.collection.mutable.ArrayBuffer.empty[(Long, E)]
    rows.flatMap { case (id, ev) =>
      val matched = reps.indexWhere { case (_, rev) => matches(rev, ev) }
      comparisons.foreach(_.add(if (matched < 0) reps.length else matched + 1))
      if (matched >= 0) Iterator.single((id, reps(matched)._1))
      else {
        if (reps.length < cap) reps += ((id, ev))
        Iterator.empty
      }
    }
  }
}
