package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StructField, StructType}
import graft.core.OCDataset

/** Arbitrary-function evaluation over a dataset (reference
  * Dataset.evaluate, python/opencosmo/dataset/dataset.py:433-528 and
  * column/evaluate.py — SURVEY.md §2.6).
  *
  * The reference's three strategies map to:
  *   row_wise   → [[rowWise]]: per-row closure (RDD map — for logic
  *                Catalyst can't express; prefer Column exprs when it
  *                can, which stay codegen'd)
  *   vectorize  → [[perPartition]]: whole-partition closure
  *                (`mapPartitions` — amortizes per-batch setup, the
  *                Spark analog of numpy whole-column kernels)
  *   chunked    → StructureCollection.evaluate (per-structure cogroup)
  *
  * The reference's output-schema probe (running the fn on one row,
  * evaluate.py:99-160) is replaced by an explicit declared schema —
  * typed, no probe job. Auto-selection of argument columns
  * (dataset.py:433-528) is `ds.select(cols…)` composed by the caller;
  * Catalyst prunes unreferenced columns regardless.
  */
object Evaluate {

  /** Append columns computed by a per-row function. `outFields`
    * declares the new columns' schema; `f` returns their values in
    * order.
    */
  def rowWise(ds: OCDataset, outFields: Seq[StructField],
              f: Row => Seq[Any]): OCDataset =
    ds.copy(df = appendColumns(ds.df, outFields)(f))

  /** The one row-append hop: `df`'s rows through an RDD map, each
    * extended by `f`'s values for `fields`, in order. */
  private[graft] def appendColumns(df: DataFrame, fields: Seq[StructField])(
      f: Row => Seq[Any]): DataFrame =
    df.sparkSession.createDataFrame(df.rdd.map(r => Row.fromSeq(r.toSeq ++ f(r))),
      StructType(df.schema.fields ++ fields))

  /** Append columns computed over bounded row batches — the vectorize/
    * batched strategies. `f` sees one batch at a time (so per-batch
    * setup amortizes like a numpy whole-column kernel) and the operator
    * never materializes more than `batchSize` rows per task: at 100 TB
    * a partition is hundreds of MB of `Row`s, so buffering the whole
    * partition (the naive `it.toVector`) is an OOM, not a strategy.
    */
  def perPartition(ds: OCDataset, outFields: Seq[StructField],
                   f: Iterator[Row] => Iterator[Seq[Any]],
                   batchSize: Int = 4096): OCDataset = {
    val inSchema = ds.df.schema
    val outSchema = StructType(inSchema.fields ++ outFields)
    val rdd = ds.df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // strict 1:1 contract: a user f yielding FEWER outputs than
        // batch rows would silently drop the unmatched rows under a
        // bare zip (and extra outputs would silently misalign every
        // later batch) — both must fail loudly
        val out = f(batch.iterator).toSeq
        require(out.size == batch.size,
          s"perPartition f returned ${out.size} rows for a " +
            s"${batch.size}-row batch — outputs must map 1:1 to inputs")
        batch.iterator.zip(out.iterator).map { case (r, extra) =>
          Row.fromSeq(r.toSeq ++ extra)
        }
      }
    }
    ds.copy(df = ds.df.sparkSession.createDataFrame(rdd, outSchema))
  }
}
