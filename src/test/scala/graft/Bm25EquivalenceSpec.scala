package graft

import graft.functions.TextFunctions
import graft.operators.CorpusOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** bm25TopK (one tokenization per row, per-id tf vector) against the
  * (doc, token)-table formulation it replaced, kept here as the
  * reference: the same rows, bit for bit, on inputs that stress the
  * per-id bookkeeping. */
class Bm25EquivalenceSpec extends SparkSpec {
  import spark.implicits._

  /** The former bm25TopK: tf from a (doc, token) grouping of the whole
    * vocabulary, dl joined back on the id, df and totals broadcast. */
  private def reference(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "" && !col("token").isin(TextFunctions.allStopwords: _*))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy(col(idCol)).agg(sum("tf").as("__dl"))
    val q = terms.filter(col("token").isin(queryTerms: _*))
    val dfTable = q.groupBy("token").agg(count(lit(1)).as("__df"))
    val totals = terms.agg(sum("tf").cast("double").as("__tot"))
      .crossJoin(docs.agg(count(lit(1)).as("__n")))
    val contrib =
      ((col("__n").cast("double") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))) *
        ((col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / (col("__tot") / col("__n")))))
    q.join(broadcast(dfTable), "token")
      .crossJoin(broadcast(totals))
      .join(dl, Seq(idCol))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(round(contrib, 4).cast("decimal(18,4)")).cast("decimal(38,4)").cast("double").as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  private def assertSameRows(docs: DataFrame, terms: Seq[String], k: Int, id: String = "doc_id"): Unit = {
    val want = reference(docs, id, "text", terms, k).collect().toSeq
    val got = CorpusOps.bm25TopK(docs, id, "text", terms, k).collect().toSeq
    assert(got == want, s"terms $terms, k $k")
    assert(CorpusOps.bm25TopK(docs, id, "text", terms, k).schema.map(_.dataType) ==
      reference(docs, id, "text", terms, k).schema.map(_.dataType))
  }

  private val edgeDocs = Seq[(Long, String)](
    (1L, "merge join merge"),
    (1L, "window row row scan"),          // a second row of id 1
    (1L, null),                            // and a null one
    (2L, "merge merge merge hash"),
    (3L, "join"),
    (3L, "the and of"),                   // a stopword-only row of an id that matches
    (4L, null),
    (5L, ""),
    (6L, "   \t "),
    (7L, "the a of and to"),              // only stopwords
    (8L, "window Window WINDOW merge."),
    (9L, "value hash part batch"),
    (9L, "join window")) ++ (10L to 24L).map(i => (i, s"row scan value w$i merge"))

  test("duplicated ids, null/empty/stopword-only text: same rows as the (doc, token) form") {
    val docs = edgeDocs.toDF("doc_id", "text").repartition(3)
    Seq(1, 3, 100).foreach(k => assertSameRows(docs, Seq("merge", "join", "window"), k))
  }

  test("a stopword query term and a term no document contains change nothing") {
    val docs = edgeDocs.toDF("doc_id", "text").repartition(2)
    assertSameRows(docs, Seq("merge", "the", "zebra", "join"), 100)
    assertSameRows(docs, Seq("zebra", "the"), 10)            // no term can match: empty
    assertSameRows(docs, Seq("merge", "merge", "window"), 100) // repeated query term
  }

  test("the Round6OpsSpec corpus") {
    val docs = (Seq(
      (1L, "merge join window merge join window"),
      (2L, "merge row row row row row"),
      (3L, "row scan value hash part batch"),
      (4L, "merge join row scan value hash")
    ) ++ (5L to 30L).map(i => (i, "row scan value hash part batch"))).toDF("doc_id", "text")
    Seq(3, 30).foreach(k => assertSameRows(docs, Seq("merge", "join", "window"), k))
  }

  test("the sf0.001 documents table, string ids included") {
    val docs = spark.read.parquet(s"${sys.props("user.home")}/testdata/sf0.001/documents.parquet")
    assertSameRows(docs, Seq("merge", "join", "window"), 20)
    assertSameRows(docs.select(col("doc_id").cast("string").as("key"), col("text")),
      Seq("merge", "join", "window", "the"), 50, id = "key")
  }
}
