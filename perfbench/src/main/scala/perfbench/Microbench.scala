package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

/** Rows per second of each graft native SQL function, over `rows` rows
  * cut from the workload's own documents and embeddings (documents and
  * vectors repeat to fill the count). The input is cached before any
  * timing, so a rate covers the cached scan plus the function. Two
  * entries time the declarative form that graft's rewrite rule replaces
  * with the native one; the benchmark session has no rewrite rules, so
  * that form runs as written. */
object Microbench {
  val exprs: Seq[(String, String)] = Seq(
    "vec_dot" -> "vec_dot(v, q)",
    "vec_dot.decl" -> "aggregate(zip_with(v, q, (x, y) -> x * y), 0D, (acc, y) -> acc + y)",
    "minhash_sig" -> "minhash_sig(toks)",
    "simhash60" -> "simhash60(toks)",
    "hyperplane_lsh" -> "hyperplane_lsh(v, 4, 16)",
    "array_count_in" -> "array_count_in(toks, array('the', 'a', 'of', 'and', 'to', 'in'))",
    "array_count_in.decl" -> "size(filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))",
    "sorted_intersect_count" -> "sorted_intersect_count(sh, sh2)",
    "nfc_normalize" -> "nfc_normalize(utext)",
    "url_canon" -> "canonicalize_url(url)")

  def run(spark: SparkSession, data: String, rows: Int, reps: Int = 3): Map[String, Any] = {
    val t = graft.tables.Tables(spark, data)
    val nd = t.documents.count()
    val ne = t.embeddings.count()
    val shingles = "array_sort(array_distinct(transform(split(text, ' '), w -> xxhash64(w))))"
    val docs = t.documents.selectExpr("doc_id", "text")
    val input: DataFrame = spark.range(rows)
      .select(col("id"), (col("id") % nd).as("d"), ((col("id") * 7 + 1) % nd).as("d2"),
        (col("id") % ne).as("e"))
      .join(docs.withColumnRenamed("doc_id", "d"), "d")
      .join(docs.selectExpr("doc_id AS d2", s"$shingles AS sh2"), "d2")
      .join(t.embeddings.selectExpr("vec_id AS e",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"), "e")
      .selectExpr(
        "split(text, ' ') AS toks",
        s"$shingles AS sh", "sh2", "v",
        // query vector: the first embedding, as a constant
        "v AS q0",
        "concat(text, ' café Å') AS utext",
        "concat('HTTP://WWW.', split(text, ' ')[0], '.Example.com:80/', " +
          "split(text, ' ')[1], '/%7e', split(text, ' ')[2], " +
          "'/?utm_source=x&b=', split(text, ' ')[3], '&a=1#frag') AS url")
    val q = input.select("q0").head().getSeq[Double](0)
    val cached = input.drop("q0")
      .withColumn("q", lit(q.toArray))
      .persist()
    cached.count()
    val res = exprs.map { case (name, e) =>
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        cached.select(expr(e).as("r")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> Map("rows" -> rows, "seconds" -> secs, "rows_per_s" -> rows / secs(secs.size / 2))
    }.toMap
    cached.unpersist(blocking = true)
    res
  }
}
