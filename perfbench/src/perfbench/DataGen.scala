package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's input tables: a TPC-H-like star schema, an `events`
  * stream and a `documents` corpus, with the column names and types of the
  * repository's test data. Every value is a pure function of (table, row,
  * field) through a splitmix64 hash, so the files are identical on every
  * machine and every run. One parquet file per table.
  *
  * Sizes are about sf0.01 for the relational tables (60k line items), so a
  * warm suite pass takes seconds and a run fits its time budget; the
  * per-constraint job count, which dominates wall time, does not depend on
  * the size.
  */
object DataGen {
  val NOrders = 15000
  val NCustomers = 1500
  val NParts = 2000
  val NSuppliers = 100
  val NEvents = 10000
  val NDocs = 400

  /** splitmix64 finaliser over a (table, row, field) key. */
  def h(table: Int, row: Long, field: Int): Long = {
    var z = row * 0x9E3779B97F4A7C15L + table * 0xBF58476D1CE4E5B9L + field * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def below(table: Int, row: Long, field: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(h(table, row, field), n)
  def unit(table: Int, row: Long, field: Int): Double =
    (h(table, row, field) >>> 11).toDouble / (1L << 53).toDouble
  def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  private val base = LocalDateTime.of(1992, 1, 1, 0, 0)
  private def day(table: Int, row: Long, field: Int, days: Long): LocalDateTime =
    base.plusDays(below(table, row, field, days))

  def generate(spark: SparkSession, dir: String): Unit = {
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val long = LongType; val int = IntegerType; val dbl = DoubleType
    val str = StringType; val ts = TimestampNTZType
    def schema(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

    // orders: totalprice is uniform over [1e3, 5e5], so its mean sits near
    // 250k and the suite's NumericMean(150k ± 100k) fails by design
    write("orders",
      schema("o_orderkey" -> long, "o_custkey" -> long, "o_orderstatus" -> str,
        "o_totalprice" -> dbl, "o_orderdate" -> ts, "o_orderpriority" -> str),
      (0L until NOrders).map { k =>
        Row(k, below(1, k, 1, NCustomers), Seq("O", "F", "P")(below(1, k, 2, 3).toInt),
          cents(1000.0 + unit(1, k, 3) * 499000.0), day(1, k, 4, 3650),
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(below(1, k, 5, 5).toInt))
      })

    // lineitem: 1-7 lines per order; line numbers above 5 collapse to 5, so
    // (l_orderkey, l_linenumber) is not unique by design
    write("lineitem",
      schema("l_orderkey" -> long, "l_partkey" -> long, "l_suppkey" -> long,
        "l_linenumber" -> int, "l_quantity" -> dbl, "l_extendedprice" -> dbl,
        "l_discount" -> dbl, "l_tax" -> dbl, "l_returnflag" -> str,
        "l_linestatus" -> str, "l_shipdate" -> ts),
      (0L until NOrders).flatMap { k =>
        val n = 1 + below(2, k, 0, 7).toInt
        (1 to n).map { i =>
          val r = k * 8 + i
          val qty = (1 + below(2, r, 1, 50)).toDouble
          Row(k, below(2, r, 2, NParts), below(2, r, 3, NSuppliers), math.min(i, 5), qty,
            cents(qty * (900.0 + unit(2, r, 4) * 1100.0)), below(2, r, 5, 11) / 100.0,
            below(2, r, 6, 9) / 100.0, Seq("A", "N", "R")(below(2, r, 7, 3).toInt),
            Seq("O", "F")(below(2, r, 8, 2).toInt), day(2, r, 9, 3650))
        }
      })

    // customer: 1% null account balances
    write("customer",
      schema("c_custkey" -> long, "c_name" -> str, "c_nationkey" -> int,
        "c_acctbal" -> dbl, "c_mktsegment" -> str),
      (0L until NCustomers).map { k =>
        Row(k, f"Customer#$k%09d", below(3, k, 1, 25).toInt,
          if (below(3, k, 2, 100) == 0) null else cents(-999.99 + unit(3, k, 3) * 10999.98),
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(below(3, k, 4, 5).toInt))
      })

    val adjectives = Seq("large", "small", "hot", "cold", "bright", "dark", "smooth", "rough")
    val nouns = Seq("ring", "bolt", "gear", "pipe", "valve", "plate", "screw", "wheel")
    write("part",
      schema("p_partkey" -> long, "p_name" -> str, "p_brand" -> str, "p_type" -> str,
        "p_size" -> int, "p_retailprice" -> dbl),
      (0L until NParts).map { k =>
        Row(k, s"${adjectives(below(4, k, 1, 8).toInt)} ${nouns(below(4, k, 2, 8).toInt)}",
          s"Brand#${1 + below(4, k, 3, 25)}",
          Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")(below(4, k, 4, 6).toInt),
          (1 + below(4, k, 5, 50)).toInt, cents(900.0 + (k % 1000) / 10.0))
      })

    write("supplier",
      schema("s_suppkey" -> long, "s_name" -> str, "s_nationkey" -> int, "s_acctbal" -> dbl),
      (0L until NSuppliers).map { k =>
        Row(k, f"Supplier#$k%09d", below(5, k, 1, 25).toInt,
          cents(-999.99 + unit(5, k, 2) * 10999.98))
      })

    val eventBase = LocalDateTime.of(2024, 1, 1, 0, 0)
    write("events",
      schema("event_id" -> long, "ts" -> ts, "user_id" -> long, "event_type" -> str,
        "value" -> dbl, "props" -> str),
      (0L until NEvents).map { k =>
        Row(k, eventBase.plusSeconds(k * 60 + below(6, k, 1, 60)), below(6, k, 2, 500),
          Seq("view", "click", "signup", "purchase", "error")(below(6, k, 3, 5).toInt),
          cents(unit(6, k, 4) * 200.0), s"""{"k": ${below(6, k, 5, 100)}}""")
      })

    val docs = Documents.texts()
    write("documents",
      schema("doc_id" -> long, "text" -> str, "lang" -> str, "source" -> str, "n_chars" -> long),
      docs.indices.map { i =>
        val (text, lang) = docs(i)
        Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
      })
  }
}

/** The `documents` corpus: bag-of-words texts over a small vocabulary, mixed
  * so that every curation stage has work to do. By document kind:
  *   - English prose (kept by the gates) and prose in four other languages
  *     (dropped by language id);
  *   - short and repetitive documents (dropped by the Gopher and repetition
  *     gates);
  *   - near-duplicates: an earlier English document with one word replaced
  *     (clustered and dropped by MinHash dedup);
  *   - English documents that embed a 12-token passage of another document
  *     (excised by span removal).
  */
object Documents {
  private val content = Seq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "hash", "slow", "group", "agg", "filter", "query", "big", "key", "window",
    "row", "table", "stream", "merge", "data", "vector", "join", "customer", "index", "plan",
    "cache", "shuffle", "stage", "task", "block", "page", "file", "split", "range", "level")
  private val stop = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "a", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une"),
    "es" -> Seq("el", "los", "que", "y", "es", "una", "para"),
    "zh" -> Seq("shi", "bu", "wo", "zai", "you"))

  private def prose(doc: Long, lang: String, n: Int, salt: Int): Array[String] =
    Array.tabulate(n) { i =>
      val r = doc * 1000 + i
      if (DataGen.below(7, r, salt, 5) == 0) {
        val s = stop(lang); s(DataGen.below(7, r, salt + 1, s.size).toInt)
      } else content(DataGen.below(7, r, salt + 2, content.size).toInt)
    }

  def texts(): IndexedSeq[(String, String)] = {
    val out = new Array[(Array[String], String)](DataGen.NDocs)
    for (d <- 0 until DataGen.NDocs) {
      val kind = DataGen.below(8, d, 0, 100)
      val n = 30 + DataGen.below(8, d, 1, 60).toInt
      out(d) =
        if (kind < 55 || d < 50) (prose(d, "en", n, 10), "en")
        else if (kind < 75) {
          val lang = Seq("de", "fr", "es", "zh")(DataGen.below(8, d, 2, 4).toInt)
          (prose(d, lang, n, 20), lang)
        } else if (kind < 80) (prose(d, "en", 4 + DataGen.below(8, d, 3, 5).toInt, 30), "en")
        else if (kind < 85) {
          val phrase = prose(d, "en", 3, 40)
          (Array.tabulate(n)(i => phrase(i % 3)), "en")
        } else if (kind < 93) {
          // near-duplicate of an earlier English document
          var src = DataGen.below(8, d, 4, d.toLong).toInt
          while (out(src)._2 != "en" || out(src)._1.length < 30) src = (src + 1) % d
          val copy = out(src)._1.clone()
          copy(DataGen.below(8, d, 5, copy.length).toInt) = "variant"
          (copy, "en")
        } else {
          // English prose with a passage cloned from another document
          val own = prose(d, "en", n, 50)
          var src = DataGen.below(8, d, 6, d.toLong).toInt
          while (out(src)._1.length < 30) src = (src + 1) % d
          val at = DataGen.below(8, d, 7, out(src)._1.length - 12).toInt
          val passage = out(src)._1.slice(at, at + 12)
          (own.take(n / 2) ++ passage ++ own.drop(n / 2), "en")
        }
    }
    out.toIndexedSeq.map { case (toks, lang) => (toks.mkString(" "), lang) }
  }
}
