package graft.queries

import graft.SparkSpec

/** Round-11 operators pinned against sequential driver-side replays
 * on the real sf0.001 corpus: BM25 top-k must equal a from-scratch
 * Scala replay of the exact tokenization / ratio-idf / sorted-term
 * fold / tie-break chain (bit-exact doubles — same fold order), and
 * the Bloom decontamination contract's exact values must equal a
 * Scala set computation over the same 32/16 chunk hashes. */
class Round11Spec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def docTexts(): Seq[(Long, String)] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def tokens(text: String): Seq[String] =
    text.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)

  test("bm25 top-k equals the sequential replay") {
    val got = CorpusQueries.bm25TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq

    val ds = docTexts()
    val n = ds.size.toLong
    val tf = scala.collection.mutable.Map[(Long, String), Long]()
    ds.foreach { case (id, t) =>
      tokens(t).foreach(w => tf((id, w)) = tf.getOrElse((id, w), 0L) + 1L)
    }
    val dl = tf.toSeq.groupBy(_._1._1).map { case (id, xs) => id -> xs.map(_._2).sum }
    val df = tf.toSeq.groupBy(_._1._2).map { case (w, xs) => w -> xs.size.toLong }
    val avgdl = dl.values.sum.toDouble / n
    val top6 = df.toSeq.sortBy { case (w, c) => (-c, w) }.take(6).map(_._1)
    val queries = top6.zipWithIndex.groupBy(_._2 % 3)
      .map { case (q, xs) => q.toLong -> xs.map(_._1) }
    val expected = queries.toSeq.flatMap { case (qid, terms) =>
      val perDoc = tf.keys.map(_._1).toSeq.distinct.flatMap { id =>
        val matched = terms.filter(t => tf.contains((id, t))).sorted
        if (matched.isEmpty) None
        else {
          var acc = 0.0
          matched.foreach { t =>
            val f = tf((id, t)); val d = df(t)
            val idf = (n - d + 0.5) / (d + 0.5)
            val sat = (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * (dl(id) / avgdl)))
            acc = acc + idf * sat
          }
          Some((id, matched.size.toLong, acc))
        }
      }
      perDoc.sortBy { case (id, _, raw) => (-raw, id) }.take(5).zipWithIndex
        .map { case ((id, nt, raw), i) =>
          (qid, (i + 1).toLong, id, nt, math.floor(raw * 1e9 + 0.5) / 1e9)
        }
    }.sorted

    assert(got.sorted == expected)
    // structural sanity on top of the replay: 3 queries, ranks dense
    assert(got.map(_._1).distinct.sorted == Seq(0L, 1L, 2L))
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted == (1L to rows.size).toSeq)
    }
  }

  test("approx_top_k strictly-above-boundary set equals the exact replay") {
    val got = SqlFunctionQueries.approxTopK(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    val counts = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").collect().map(_.getLong(0))
      .groupBy(id => (id % 100).toString).map { case (k, xs) => k -> xs.size.toLong }
    val t = counts.values.toSeq.sorted.reverse.take(10).min
    val expected = counts.toSeq.filter(_._2 > t)
      .sortBy { case (k, n) => (-n, k) }.zipWithIndex
      .map { case ((k, n), i) => (k, n, (i + 1).toLong) }

    assert(got == expected)
  }

  /** The sequential 5-round trainer replay shared by the merges and
   * encode tests: the learned merge ledger plus the final segmented
   * vocabulary (word -> (count, sentinel segmentation)). */
  private def sequentialBpe()
      : (Seq[(Long, String, String, Long, Long)], Map[String, (Long, String)]) = {
    val vocab = scala.collection.mutable.Map[String, Long]()
    docTexts().foreach { case (_, t) =>
      tokens(t).filter(!_.contains("|"))
        .foreach(w => vocab(w) = vocab.getOrElse(w, 0L) + 1L)
    }
    var segs: Map[String, (Long, String)] = vocab.toMap.map { case (w, c) =>
      w -> (c, w.map(ch => s"|$ch|").mkString)
    }
    val merges = (1 to 5).map { round =>
      val pc = scala.collection.mutable.Map[(String, String), Long]()
      segs.values.foreach { case (c, seg) =>
        val a = seg.stripPrefix("|").stripSuffix("|").split("\\|\\|")
        (0 until a.length - 1).foreach { i =>
          pc((a(i), a(i + 1))) = pc.getOrElse((a(i), a(i + 1)), 0L) + c
        }
      }
      val ((l, r), c) = pc.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.head
      segs = segs.map { case (w, (cnt, seg)) =>
        w -> (cnt, seg.replace(s"|$l||$r|", s"|$l$r|"))
      }
      val symbolsAfter = segs.values.map { case (cnt, seg) =>
        cnt * seg.stripPrefix("|").stripSuffix("|").split("\\|\\|").length
      }.sum
      (round.toLong, l, r, c, symbolsAfter)
    }
    (merges, segs)
  }

  test("bpe merges equal the sequential trainer replay") {
    val got = CorpusQueries.bpeMerges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSeq

    val (expected, segs) = sequentialBpe()

    assert(got.sortBy(_._1) == expected)
    // compression must be monotone
    assert(expected.map(_._5) == expected.map(_._5).sorted.reverse)

    // the vocabulary report off the same trainer state
    val gotVocab = CorpusQueries.bpeVocab(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val tokc = scala.collection.mutable.Map[String, Long]()
    segs.values.foreach { case (c, seg) =>
      seg.stripPrefix("|").stripSuffix("|").split("\\|\\|")
        .foreach(t => tokc(t) = tokc.getOrElse(t, 0L) + c)
    }
    val expVocab = tokc.toSeq.sortBy { case (t, n) => (-n, t) }.take(20)
      .zipWithIndex.map { case ((t, n), i) => (t, n, (i + 1).toLong) }
    assert(gotVocab.sortBy(_._3) == expVocab)
  }

  test("bpe encode equals the per-document application of the learned tokenizer") {
    val got = CorpusQueries.bpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

    val (_, segs) = sequentialBpe()
    val tokPerWord = segs.map { case (w, (_, seg)) =>
      w -> seg.stripPrefix("|").stripSuffix("|").split("\\|\\|").length.toLong
    }
    val expected = docTexts().flatMap { case (id, t) =>
      val ws = tokens(t).filter(!_.contains("|"))
      if (ws.isEmpty) None
      else Some((id, ws.size.toLong, ws.map(tokPerWord).sum,
        ws.count(w => tokPerWord(w) == 1L).toLong))
    }.sortBy(_._1)

    assert(got.sortBy(_._1) == expected)
    // the merges must actually compress: strictly fewer tokens than
    // characters corpus-wide, and at least one multi-token word left
    assert(got.map(_._3).sum < docTexts().map(_._2.count(!_.isWhitespace)).sum)
    assert(got.exists(r => r._3 > r._2))
  }

  test("bloom decontamination exact values equal the set replay") {
    val row = CorpusQueries.bloomDecontaminate(spark, sf).head()

    // mirror bloomDecontaminate EXACTLY: TextOps.words keeps the
    // single empty token a whitespace-only text splits to (so such a
    // doc contributes md5("") — the oracle agrees), and the n > 0
    // gate admits it; the replay must not silently filter it
    def chunks(text: String): Seq[String] = {
      val w = text.trim.split("\\s+").toSeq
      (0 until w.size by 16).map(i => md5hex(w.slice(i, i + 32).mkString(" ")))
    }
    val ds = docTexts()
    val train = ds.filter(_._1 % 10 != 0).flatMap(d => chunks(d._2)).toSet
    val ev = ds.filter(_._1 % 10 == 0).flatMap(d => chunks(d._2)).toSet

    assert(row.getLong(0) == train.size.toLong)
    assert(row.getLong(1) == ev.size.toLong)
    assert(row.getLong(2) == ev.intersect(train).size.toLong)
    assert(row.getBoolean(3), "bloom lost an exact hit (false negative)")
    assert(row.getBoolean(4), "bloom false-positive rate out of bound")
  }
}
