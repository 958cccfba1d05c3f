package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained linear document classifier — the fastText shape (hashed
  * bag-of-words presence features + bias into a linear model), which
  * is how production model-based corpus filters are built: GPT-3's
  * WebText-vs-CommonCrawl quality classifier, CCNet/fastText language
  * ID, Llama's quality scoring. The heuristic quality family
  * (q_quality / q_quality_filter / q_lm_score) covers hand-written
  * signals; this is the TRAINED member. The demo label is
  * seed-lexicon weak supervision ("mentions any of a keyword set") —
  * the bootstrap pattern for domain classifiers — because the
  * synthetic corpus draws every document from ONE shared vocabulary,
  * so no organic label (lang, source, quality band) is linearly
  * learnable from its text; swap the label column for curated-vs-crawl
  * on a real corpus and this is the GPT-3 quality filter verbatim.
  *
  * Distributed training, DETERMINISTIC BY CONSTRUCTION — the property
  * MLlib's treeAggregate loop does not give you: a float gradient
  * summed across partitions picks up the partitioning's association
  * order, so two cluster sizes train two subtly different models and
  * no byte-level audit can compare them. Here every per-row gradient
  * contribution is quantized to Q20 fixed-point (the q_dsir idiom) and
  * summed as LONGS — integer addition is associative-commutative, so
  * the gradient, hence the whole training trajectory, is bit-identical
  * under ANY partitioning, and a driver-local reference trainer
  * reproduces it exactly (both asserted in ClassifierSpec). Per-row
  * float math (margin, sigmoid) stays row-local double arithmetic in
  * one fixed order; libm `exp` is JVM-wide identical, so the
  * quantization removes exactly the one order-dependent reduction.
  *
  * Scale shape: featurize ONCE into a cached sparse frame (per doc:
  * sorted distinct bucket ids — one explode + one keyed partial-agg,
  * the same shuffle any df computation costs); each of K iterations is
  * one scan of that frame + a partial-agg of nnz (bucket, q-term) rows
  * down to D+1 longs collected to the driver (the treeAggregate shape,
  * relationally). Driver state is only the weight vector, re-broadcast
  * as a literal each iteration. At 100 TB: K scans of a columnar
  * cache, no joins, no global sort, shuffle volume D·partitions.
  */
object Classifier {
  /** Sparse presence features: (doc_id, y, grp, bs) with bs = sorted
    * distinct hashed bucket ids plus `dim` itself as the bias slot.
    * `label` must evaluate to 0.0/1.0 over `docs`'s columns; `group`
    * is an arbitrary passthrough for later summarization. */
  def featurize(docs: DataFrame, label: Column, group: Column,
                dim: Int): DataFrame =
    docs
      // fan out BEFORE tokenize/explode (guide §2.5): the per-token
      // hash explode otherwise runs inside the 1-task single-file
      // scan stage and the whole featurization serializes
      .repartition(graft.core.Fanout.n(docs), col("doc_id"))
      .withColumn("y", label.cast("double"))
      .withColumn("grp", group)
      .selectExpr("doc_id", "y", "grp",
        s"${graft.dedup.Dedup.toksExpr} AS toks")
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), col("y"), col("grp"),
        explode(col("toks")).as("t"))
      .withColumn("b", pmod(xxhash64(col("t")), lit(dim)).cast("int"))
      .groupBy("doc_id", "y", "grp")
      .agg(array_sort(collect_set(col("b"))).as("hs"))
      .select(col("doc_id"), col("y"), col("grp"),
        concat(col("hs"), array(lit(dim))).as("bs"))

  /** Row-local margin w·x (x binary, so a fold of weight lookups). */
  private def margin(w: Array[Double]): Column = {
    val wl = typedLit(w.toSeq)
    aggregate(col("bs"), lit(0d),
      (acc, b) => acc + element_at(wl, b + 1))
  }

  private val Q = 1L << 20

  /** K rounds of quantized-gradient descent; returns dim+1 weights
    * (last = bias). */
  def train(features: DataFrame, dim: Int, iters: Int = 15,
            lr: Double = 1.0): Array[Double] = {
    // the pin's observed row count is the document count: one job
    scala.util.Using.resource(graft.core.Pin(features)) { pinned =>
      val nDocs = pinned.rows.toDouble
      val w = Array.fill(dim + 1)(0.0)
      for (_ <- 1 to iters) {
        // e = sigma(margin) - y; per-bucket Q20 terms — long sums make
        // the cross-partition reduction order-insensitive
        val grad = pinned.df
          .withColumn("eq",
            round((lit(1d) / (lit(1d) + exp(-margin(w))) - col("y")) * Q)
              .cast("long"))
          .select(explode(col("bs")).as("b"), col("eq"))
          .groupBy("b").agg(sum("eq").as("g"))
          .collect()
        grad.foreach { r =>
          val b = r.getInt(0)
          w(b) -= lr * (r.getLong(1).toDouble / Q) / nDocs
        }
      }
      w
    }
  }

  /** Featurize → train on a bounded deterministic sample → score the
    * whole corpus: the production split of work — classifier TRAINING
    * needs ~10³–10⁵ docs, while the corpus-scale cost is SCORING,
    * which is one map pass. The training set is the `trainCap` first
    * docs under a seeded portable-md5 order (TakeOrdered — parallel
    * top-K with per-partition pruning, no global sort materialized),
    * so it is identical across partitionings and engines; K gradient
    * scans then touch only the sample. lr/iters sized for binary
    * presence features (measured: lr=1.0 reaches ≥0.99 train accuracy
    * in 15 rounds on the demo label at sf0.001/sf0.01, where
    * tf-normalized features needed thousands). */
  def trainAndSummarize(docs: DataFrame, label: Column, group: Column,
                        dim: Int = 256, iters: Int = 15,
                        lr: Double = 1.0, trainCap: Int = 4096): DataFrame = {
    // featurize ONCE: the sample pick and the corpus scoring join
    // otherwise both re-run the tokenize+explode+agg pipeline
    val f = graft.core.Pin(featurize(docs, label, group, dim)).df
    val ord = conv(substring(md5(concat(lit("cls#"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val sample = f.orderBy(ord, col("doc_id")).limit(trainCap)
    val w = train(sample, dim, iters, lr)
    // score the WHOLE corpus; report train and held-out correctness
    // separately — train accuracy alone overstates a memorizing model,
    // and when the corpus fits inside trainCap there simply is no
    // held-out slice (n_docs == n_train)
    f.join(sample.select(col("doc_id")).withColumn("__tr", lit(1)),
        Seq("doc_id"), "left")
      .withColumn("pred", (margin(w) > 0d).cast("int"))
      .withColumn("ok",
        (col("pred").cast("double") === col("y")).cast("long"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pred").cast("long")).as("n_pred_pos"),
        sum(col("ok")).as("n_correct"),
        sum(when(col("__tr").isNotNull, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("__tr").isNull, col("ok")).otherwise(0L))
          .as("n_holdout_correct"))
  }
}
