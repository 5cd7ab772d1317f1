package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.SparkEntry
import graft.functions.{ArrayDotProduct, BpeApplyMerges, PqEncodeCodes, WordNgrams}

/** The control mix: twelve `SparkEntry.queries` bodies and four
  * `graft.functions` kernels over seeded analytics tables. It never touches
  * the store, so a store change should leave it alone.
  *
  * The tables have the schemas of the corpus `Bench` reads (TPC-H-like
  * star plus `documents` and `embeddings`) at about a tenth of its sf0.1
  * size, and are written once per run under `dir`. The corpus comes from the seed,
  * so query checksums cannot be pinned to recorded values; the plain-SQL
  * queries are checked against their oracle text instead.
  */
final class QueryMix(dir: String, seed: Long, tr: Tracer, checks: Checks)(
    implicit spark: SparkSession) {
  import spark.implicits._

  /** Queries whose oracle SQL is plain SQL: their result must equal Spark
    * SQL running that oracle text over the same tables. */
  val oracleChecked: Set[String] = Set("q1_agg", "q5_join_agg", "q_cube")

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "key", "agg", "slow", "fast", "table", "value", "part", "a", "merge",
    "spark", "the", "line", "sort", "window", "order", "data", "small", "query", "big",
    "stream", "group", "index", "node")

  // ---- tables --------------------------------------------------------
  def writeTables(): Unit = {
    val r = new scala.util.Random(seed * 31 + 7)
    def ts(lo: String, days: Int): Timestamp =
      new Timestamp(Timestamp.valueOf(lo).getTime + r.nextInt(days) * 86400000L)
    def put(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    put("region", regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    put("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    put("customer", (0 until 1500).map(i => (i.toLong, f"Customer#$i%09d", r.nextInt(25),
      r.nextInt(1000000) / 100.0, segs(r.nextInt(5))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    put("supplier", (0 until 100).map(i => (i.toLong, f"Supplier#$i%09d", r.nextInt(25),
      r.nextInt(1000000) / 100.0)).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    put("orders", (0 until 15000).map(i => (i.toLong, r.nextInt(1500).toLong,
      Seq("F", "O", "P")(r.nextInt(3)), r.nextInt(50000000) / 100.0,
      ts("1992-01-01 00:00:00", 2550), prio(r.nextInt(5))))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"))
    put("lineitem", (0 until 60000).map(i => (r.nextInt(15000).toLong, r.nextInt(2000).toLong,
      r.nextInt(100).toLong, 1 + i % 7, (1 + r.nextInt(50)).toDouble,
      r.nextInt(10000000) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
      ts("1992-01-01 00:00:00", 3650)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"))
    // Every tenth document is a one-word edit of its predecessor, so the
    // dedup queries have near-duplicates to find.
    val langs = Seq("en", "en", "en", "zh", "es", "de", "fr")
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      if (i % 10 == 9) {
        val ws = texts(i - 1).split(" ")
        ws(ws.length / 2) = vocab(r.nextInt(vocab.size))
        texts += ws.mkString(" ")
      } else texts += Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    put("documents", texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(r.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"))
    // Unit vectors around ten cluster centres; the label is the cluster.
    val centres = Array.fill(10, 64)(r.nextGaussian())
    put("embeddings", (0 until 500).map { i =>
      val c = r.nextInt(10)
      val v = Array.tabulate(64)(j => centres(c)(j) + 0.6 * r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat).toSeq, c)
    }.toDF("vec_id", "embedding", "label"))
  }

  // ---- queries -------------------------------------------------------
  private def fold(df: DataFrame): (Long, Long) = {
    val r = df.selectExpr("count(*)", "bit_xor(xxhash64(struct(*)))").head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def timed[T](op: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = tr.span(op)(body)
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** One call of each query, folded to (rows, order-insensitive checksum)
    * like `Bench`. Each must return rows. */
  private def queryPass(): Seq[(String, Double)] = Layers.Queries.map { q =>
    spark.catalog.clearCache()
    val op = s"queries.$q"
    val ((rows, _), secs) = timed(op)(fold(SparkEntry.queries(q)(spark, dir)))
    checks(op, rows > 0, "no rows")
    op -> secs
  }

  /** The plain-SQL queries must equal Spark SQL running their oracle text
    * over the same tables. Run once, outside the timed passes. */
  def checkOracles(): Unit = {
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem")
      .foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
    oracleChecked.foreach { q =>
      val got = fold(SparkEntry.queries(q)(spark, dir))
      val want = fold(spark.sql(SparkEntry.oracleSql(q)))
      checks(s"queries.$q", got == want, s"(rows, checksum) $got, oracle $want")
    }
  }

  // ---- kernels -------------------------------------------------------
  private var vecs: Map[Long, Seq[Float]] = Map.empty
  private var texts: Map[Long, String] = Map.empty
  private var book: IndexedSeq[IndexedSeq[Array[Double]]] = IndexedSeq.empty
  private var cn2: IndexedSeq[IndexedSeq[Double]] = IndexedSeq.empty
  private var q: Seq[Double] = Nil
  private val merges: Seq[(String, String)] =
    vocab.take(8).flatMap(w => (1 until w.length).map(i => (w.take(i), w(i).toString)))

  /** Rows each kernel call processes, for `functions.*.rows_per_s`. */
  def kernelRows: Map[String, Long] = Map("pq_encode" -> vecs.size.toLong,
    "array_dot_product" -> vecs.size.toLong, "word_ngrams" -> texts.size.toLong,
    "bpe_apply_merges" -> texts.size.toLong)

  /** Load the kernel inputs onto the driver for the model, and draw the PQ
    * codebook (8 subspaces of 8 dims, 16 codewords taken from the data)
    * and the dot-product query vector. */
  def prepare(): Unit = {
    vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    texts = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    val r = new scala.util.Random(seed * 17 + 3)
    val ids = vecs.keys.toIndexedSeq.sorted
    book = IndexedSeq.tabulate(8, 16) { (m, _) =>
      vecs(ids(r.nextInt(ids.size))).slice(m * 8, m * 8 + 8).map(_.toDouble).toArray
    }
    cn2 = book.map(_.map(c => c.map(x => x * x).sum))
    q = Seq.fill(64)(r.nextGaussian())
  }

  private def dotOf(x: Seq[Float], v: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i).toDouble * v(i); i += 1 }
    s
  }

  /** One call of each kernel over its table, checked row by row against a
    * plain Scala rendering of its documented semantics. */
  private def kernelPass(): Seq[(String, Double)] = {
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    val (pq, pqS) = timed("functions.pq_encode") {
      embs.select(col("vec_id"), PqEncodeCodes.encode(col("embedding"), book, cn2))
        .as[(Long, Seq[Int])].collect()
    }
    checks("functions.pq_encode", pq.length == vecs.size && pq.forall { case (id, codes) =>
      val x = vecs(id)
      codes == (0 until 8).map { m =>
        val xm = x.slice(m * 8, m * 8 + 8)
        (0 until 16).minBy(j => (cn2(m)(j) - 2.0 * dotOf(xm, book(m)(j).toSeq), j))
      }
    }, "codes differ from the model")

    val (dots, dotS) = timed("functions.array_dot_product") {
      embs.select(col("vec_id"), ArrayDotProduct.dot(col("embedding"), typedLit(q)))
        .as[(Long, Double)].collect()
    }
    checks("functions.array_dot_product",
      dots.length == vecs.size && dots.forall { case (id, d) => d == dotOf(vecs(id), q) },
      "dot products differ from the model")

    val (grams, gramS) = timed("functions.word_ngrams") {
      docs.select(col("doc_id"), WordNgrams.ngrams(col("text"), 3)).as[(Long, Seq[String])].collect()
    }
    checks("functions.word_ngrams", grams.length == texts.size && grams.forall { case (id, g) =>
      val ws = texts(id).split(" ", -1)
      g == (if (ws.length < 3) Nil else ws.sliding(3).map(_.mkString(" ")).toSeq)
    }, "n-grams differ from the model")

    // BPE: merges that spell out a few vocabulary words, applied in order.
    val bpe: Column => Column = c =>
      GraftBridge.column(BpeApplyMerges(GraftBridge.expression(c), merges))
    val syms = split(col("text"), "")
    val (toks, bpeS) = timed("functions.bpe_apply_merges") {
      docs.select(col("doc_id"), syms.as("syms"), bpe(syms).as("toks"))
        .as[(Long, Seq[String], Seq[String])].collect()
    }
    checks("functions.bpe_apply_merges", toks.length == texts.size && toks.forall { case (_, in, out) =>
      out == merges.foldLeft(in) { case (s, (a, b)) =>
        s.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b) else acc :+ x
        }
      }
    }, "merged symbols differ from the model")
    Seq("functions.pq_encode" -> pqS, "functions.array_dot_product" -> dotS,
      "functions.word_ngrams" -> gramS, "functions.bpe_apply_merges" -> bpeS)
  }

  /** One call of every query and kernel: (op, seconds) per call. */
  def pass(): Seq[(String, Double)] = queryPass() ++ kernelPass()
}
