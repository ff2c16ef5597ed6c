package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.vec_l2

/**
 * The one two-stage search kernel behind the compressed tiers (SQ8
 * [[SqSearch]], BQ [[BqSearch]], PQ [[PqSearch]], MRL [[MrlSearch]]):
 * rank the candidates by a cheap approximate score, keep a bounded
 * shortlist, refine it exactly against the full-precision vectors, cut
 * to the top k. A tier supplies only its [[Codec]]; where candidates
 * come from is a [[Probe]]. Every rule of the chain lives here once:
 *  - the query batch (codec columns, probe cells) is COLLECTED into a
 *    broadcast local relation, decoupled from the corpus scans;
 *  - tombstones (`deletedIds`, column `id`) anti-join the candidate
 *    source BEFORE the probe join and the shortlist, so they never eat
 *    `keep` budget and tombstone serving equals serving an index
 *    rebuilt without the deleted rows (frozen models);
 *  - the label predicate lands after the cell cut and BEFORE the code
 *    join and any distance work;
 *  - the shortlist window orders by (approx, vec_id), keeps `<= keep`;
 *  - `fetch` (vec_id, embedding) joins only the shortlist, and the
 *    exact distance is `vec_l2(embedding, qraw)` on the raw query;
 *  - the final window orders by (dist, vec_id), keeps `<= k`.
 * Output: (query_id, vec_id, dist rounded to 4dp, rnk).
 */
object TwoStage {

  /** A tier's candidate representation: the `codes` table
    * (vec_id, code columns), `prep` adding the query's code columns to
    * the (query_id, qraw[, qlabel]) batch, and the `approx` score over
    * both sides' columns. */
  final case class Codec(codes: DataFrame, prep: DataFrame => DataFrame, approx: Column)

  /** Where each query's candidates come from. */
  sealed trait Probe
  /** Every code row: a broadcast nested loop over the query batch. */
  case object AllRows extends Probe
  /** The `NumProbes` nearest IVF cells, joined on `cells`' `cell`
    * column, which [[IvfSearch.assignCells]] takes out of a generator —
    * never a [[PqSearch.cellOf]] alias: keyed on a higher-order-function
    * alias, Spark 4.1's CollapseProject drops `embedding` below the
    * join, INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND. */
  final case class Cells(cells: DataFrame, cents: Array[Array[Float]]) extends Probe
  /** [[Cells]] over a labeled assignment ([[IvfSearch.assignCells]]
    * carrying `label`): candidates must share the query's label, and the probe
    * budget widens by [[IvfSearch.FilterOverProbe]] against selectivity. */
  final case class LabeledCells(cells: DataFrame, cents: Array[Array[Float]]) extends Probe

  /** Floored squared L2 — the SQ8 and MRL shortlist score (the sqrt'd
    * kernel squared by multiplication, cut at 4dp so DuckDB replays
    * the same total order). */
  def flooredSq(a: Column, b: Column): Column =
    floor(vec_l2(a, b) * vec_l2(a, b) * 10000) / 10000

  /** Serve a (vec_id, embedding[, label]) query batch. */
  def topK(queries: DataFrame, codec: Codec, probe: Probe, fetch: DataFrame,
      keep: Int, k: Int, deletedIds: Option[DataFrame]): DataFrame = {
    val spark = queries.sparkSession
    val batch = codec.prep(queries.select(
      Seq(col("vec_id").as("query_id"), col("embedding").as("qraw")) ++
        (if (probe.isInstanceOf[LabeledCells]) Seq(col("label").as("qlabel")) else Nil): _*))
    def probed(cents: Array[Array[Float]], nProbe: Int): DataFrame =
      batch.withColumn("cell", explode(PqSearch.topProbeCells(col("qraw"), cents, nProbe)))
    val prep = probe match {
      case AllRows => batch
      case Cells(_, cents) => probed(cents, IvfSearch.NumProbes)
      case LabeledCells(_, cents) =>
        probed(cents, IvfSearch.NumProbes * IvfSearch.FilterOverProbe)
    }
    val probeSide = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(prep.collect(): _*), prep.schema))
    def live(rows: DataFrame): DataFrame = deletedIds.fold(rows)(del =>
      rows.join(broadcast(del.select(col("id").as("vec_id"))), Seq("vec_id"), "left_anti"))
    val candidates = probe match {
      case AllRows => live(codec.codes).crossJoin(probeSide)
      case Cells(cells, _) =>
        live(cells).join(probeSide, Seq("cell")).join(codec.codes, Seq("vec_id"))
      case LabeledCells(cells, _) =>
        live(cells).join(probeSide, Seq("cell"))
          .filter(col("label") === col("qlabel"))
          .join(codec.codes, Seq("vec_id"))
    }
    val byQuery = Window.partitionBy("query_id")
    candidates
      .withColumn("approx", codec.approx)
      .withColumn("approx_rank", row_number().over(byQuery.orderBy(col("approx"), col("vec_id"))))
      .filter(col("approx_rank") <= keep)
      .join(fetch, Seq("vec_id"))
      .withColumn("dist", vec_l2(col("embedding"), col("qraw")))
      .withColumn("rnk", row_number().over(byQuery.orderBy(col("dist"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("dist"), 4).as("dist"), col("rnk"))
  }
}
