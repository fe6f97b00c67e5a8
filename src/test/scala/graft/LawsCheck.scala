package graft

import graft.functions.WeightedAvgCents
import graft.operators.MultimodalOps.StubCodec
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck laws for the pure kernels (SURVEY.md §5 test plan):
  * the distributed-correctness argument for the custom Aggregator is
  * exactly these algebraic laws — Spark may merge partials in any
  * order and grouping, so the monoid laws ARE the correctness proof. */
object AggregatorLaws extends Properties("WeightedAvgCents") {

  private val cents = Gen.chooseNum(0L, 10000L)
  private val pair = Gen.zip(cents, cents)
  private val buf = Gen.zip(Gen.chooseNum(0L, 1L << 40), Gen.chooseNum(0L, 1L << 30))

  property("merge is commutative") = forAll(buf, buf) { (a, b) =>
    WeightedAvgCents.merge(a, b) == WeightedAvgCents.merge(b, a)
  }

  property("merge is associative") = forAll(buf, buf, buf) { (a, b, c) =>
    WeightedAvgCents.merge(WeightedAvgCents.merge(a, b), c) ==
      WeightedAvgCents.merge(a, WeightedAvgCents.merge(b, c))
  }

  property("zero is the merge identity") = forAll(buf) { a =>
    WeightedAvgCents.merge(a, WeightedAvgCents.zero) == a &&
      WeightedAvgCents.merge(WeightedAvgCents.zero, a) == a
  }

  property("any partition split yields the same buffer") =
    forAll(Gen.listOf(pair), Gen.chooseNum(0, 100)) { (xs, cut) =>
      val k = if (xs.isEmpty) 0 else cut % (xs.size + 1)
      val (l, r) = xs.splitAt(k)
      def fold(p: List[(Long, Long)]) = p.foldLeft(WeightedAvgCents.zero)(WeightedAvgCents.reduce)
      WeightedAvgCents.merge(fold(l), fold(r)) == fold(xs)
    }

  property("finish is bounded by max value") = forAll(Gen.nonEmptyListOf(pair)) { xs =>
    val b = xs.foldLeft(WeightedAvgCents.zero)(WeightedAvgCents.reduce)
    val out = WeightedAvgCents.finish(b)
    val vals = xs.filter(_._2 > 0).map(_._1 / 100.0)
    vals.isEmpty || (out >= 0.0 && out <= vals.max + 1e-9)
  }
}

/** Laws for the bounded-heap top-k Aggregator: Spark may split the
  * rows into arbitrary partitions and merge partials in any order and
  * grouping — these laws are the distributed-correctness proof, plus
  * the semantic anchor: any split-and-merge equals a global
  * sort-and-take. */
object TopKLaws extends Properties("TopKByValue") {
  import graft.functions.{TopKByValue, TopKEntry}

  private val agg = TopKByValue(3)
  private val row: Gen[(Long, Double, Long)] = Gen.zip(
    Gen.const(1L), Gen.chooseNum(-5.0, 5.0), Gen.chooseNum(0L, 50L))
  private def fold(xs: List[(Long, Double, Long)]) =
    xs.foldLeft(agg.zero)(agg.reduce)
  private def sorted(xs: List[(Long, Double, Long)]): Seq[TopKEntry] =
    xs.map(r => TopKEntry(r._2, r._3)).distinct
      .sortBy(e => (-e.v, e.id)).take(3)

  property("merge is commutative") = forAll(Gen.listOf(row), Gen.listOf(row)) { (a, b) =>
    agg.merge(fold(a), fold(b)) == agg.merge(fold(b), fold(a))
  }

  property("merge is associative") =
    forAll(Gen.listOf(row), Gen.listOf(row), Gen.listOf(row)) { (a, b, c) =>
      agg.merge(agg.merge(fold(a), fold(b)), fold(c)) ==
        agg.merge(fold(a), agg.merge(fold(b), fold(c)))
    }

  property("zero is the merge identity") = forAll(Gen.listOf(row)) { a =>
    agg.merge(fold(a), agg.zero) == fold(a) && agg.merge(agg.zero, fold(a)) == fold(a)
  }

  property("any partition split equals global sort-take") =
    forAll(Gen.listOf(row).map(_.distinctBy(r => (r._2, r._3))), Gen.chooseNum(0, 100)) {
      (xs, cut) =>
        val k = if (xs.isEmpty) 0 else cut % (xs.size + 1)
        val (l, r) = xs.splitAt(k)
        agg.finish(agg.merge(fold(l), fold(r))).items == sorted(xs)
    }

  property("buffer never exceeds k entries") = forAll(Gen.listOf(row)) { xs =>
    fold(xs).items.size <= 3
  }
}

/** Laws for the stub codec: the invariants a real codec must also hold
  * (mass conservation, output bounds, determinism). */
object StubCodecLaws extends Properties("StubCodec") {

  private val payload = Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)

  property("histogram mass equals byte count") = forAll(payload) { p =>
    StubCodec.features(p)._1.sum == p.length
  }

  property("mean is within [0, 255]") = forAll(payload) { p =>
    val m = StubCodec.features(p)._2
    m >= 0.0 && m <= 255.0
  }

  property("features are deterministic") = forAll(payload) { p =>
    val (h1, m1) = StubCodec.features(p)
    val (h2, m2) = StubCodec.features(p)
    h1.sameElements(h2) && m1 == m2
  }

  property("resize never exceeds target or source length") =
    forAll(payload, Gen.chooseNum(1, 64)) { (p, t) =>
      val out = StubCodec.resize(p, t)
      out.length <= t && out.length <= p.length && out.forall(v => v >= 0 && v <= 255)
    }
}

/** Parser laws for the config-file loader: generated topologies
  * rendered to config text must parse back to the same structure, and
  * the validation errors must fire on exactly the invalid shapes. */
object TopologyConfigLaws extends Properties("TopologyConfig") {
  import graft.streaming.TopologyConfig

  private val ident = Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString.take(12))
  private val path = ident.map(s => s"/tmp/$s")

  property("sections and scalar/array/table values round-trip") =
    forAll(ident, path, Gen.chooseNum(1, 1000), ident, ident) { (src, dir, bs, tbl, topic) =>
      val text =
        s"""checkpointRoot = "/ckpt"
           |[source.$src]
           |dir = "$dir"   # trailing comment
           |batchSize = $bs
           |[sink.out]
           |type = "noop"
           |sources = [ "$src" ]
           |tableTopicMapping = { $tbl = "$topic" }
           |""".stripMargin
      val cfg = TopologyConfig.fromString(text)
      cfg.sources.head.name == src &&
        cfg.sources.head.dir == dir &&
        cfg.sources.head.maxFilesPerTrigger == bs &&
        cfg.sinks.head.mapping == Map(tbl -> topic) &&
        cfg.sinks.head.sources == Seq(src)
    }

  property("subscribing to any undefined source is rejected") =
    forAll(ident, ident) { (src, other) =>
      (src == other) || {
        val text =
          s"""checkpointRoot = "/ckpt"
             |[source.$src]
             |dir = "/tmp/in"
             |[sink.out]
             |type = "noop"
             |sources = [ "$other" ]
             |topicFallback = "t"
             |""".stripMargin
        Prop.throws(classOf[TopologyConfig.ConfigError])(
          TopologyConfig.fromString(text))
      }
    }
}

/** Rolling-hash kernel laws, checked against a direct reference
  * implementation of the same fold (B=31, M=1e9+7). */
object RollingHashLaws extends Properties("rollingHash") {
  private val B = 31L; private val M = 1000000007L
  private def tv(t: String): Long = (t.length * B + t.head.toInt) % M
  private def fold(tokens: List[String]): Long =
    tokens.foldLeft(0L)((acc, t) => (acc * B + tv(t)) % M)

  private val token = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(8))
  private val doc = Gen.nonEmptyListOf(token)

  property("hash is in [0, M)") = forAll(doc) { d =>
    val h = fold(d); h >= 0 && h < M
  }

  property("appending a token changes the hash deterministically") =
    forAll(doc, token) { (d, t) =>
      fold(d :+ t) == (fold(d) * B + tv(t)) % M
    }

  property("prefix property: fold is left-associative streaming") =
    forAll(doc, doc) { (a, b) =>
      // folding b on top of fold(a) == folding the concatenation:
      // the property that lets a 100 TB scan stream tokens without
      // materializing the document
      b.foldLeft(fold(a))((acc, t) => (acc * B + tv(t)) % M) == fold(a ++ b)
    }
}

/** Routing-law check on the pure CASE-fold semantics (SURVEY.md §5:
  * "fallback totality; key format") without a SparkSession: the
  * mapping fold used by CdcOps.route is Map.get + orElse fallback. */
object RouterLaws extends Properties("router") {
  private val topic = Gen.alphaNumStr.suchThat(_.nonEmpty)
  private val mapping = Gen.mapOf(Gen.zip(topic, topic))

  property("with fallback every table routes") =
    forAll(mapping, topic, topic) { (m, fb, t) =>
      m.getOrElse(t, fb).nonEmpty
    }

  property("mapped tables win over fallback") =
    forAll(mapping, topic) { (m, fb) =>
      m.forall { case (t, dest) => m.getOrElse(t, fb) == dest }
    }
}

/** Laws for the shared funnel transition (both streaming funnel
  * processors fold through it). The batch-split law is the
  * micro-batch-boundary correctness argument: Spark may cut the
  * sorted event stream anywhere, and threading the state across the
  * cut must not change what is emitted. */
object FunnelLaws extends Properties("advanceFunnel") {
  import graft.streaming.StatefulOps
  import graft.streaming.StatefulOps.{FunnelEvent, FunnelState}

  private val zero = FunnelState(-1L, -1L, -1L)
  private val eventGen: Gen[FunnelEvent] = for {
    t <- Gen.chooseNum(0L, 100000L)
    typ <- Gen.oneOf("view", "click", "purchase", "scroll")
  } yield FunnelEvent(1L, typ, new java.sql.Timestamp(t))
  private val sortedSeq: Gen[List[FunnelEvent]] =
    Gen.listOf(eventGen).map(_.sortBy(_.ts.getTime))

  property("each stage fires at most once, in order, strictly later") =
    forAll(sortedSeq) { evs =>
      val hits = StatefulOps.advanceFunnel(1L, zero, evs)._2
      val stages = hits.map(_.stage)
      stages == stages.distinct && stages == stages.sorted &&
        hits.map(_.tus).sliding(2).forall {
          case Seq(a, b) => a < b
          case _ => true
        }
    }

  property("any batch split yields the same hits once state threads across") =
    forAll(sortedSeq, Gen.chooseNum(0, 1000)) { (evs, cut) =>
      val k = if (evs.isEmpty) 0 else cut % (evs.size + 1)
      val (l, r) = evs.splitAt(k)
      val onePass = StatefulOps.advanceFunnel(1L, zero, evs)._2
      val (s1, h1) = StatefulOps.advanceFunnel(1L, zero, l)
      val h2 = StatefulOps.advanceFunnel(1L, s1, r)._2
      (h1 ++ h2) == onePass
    }
}

/** Welford accuracy laws: the streaming z-score's running moments
  * must track the two-pass reference — the reason the recurrence
  * exists is that the naive one-pass sum-of-squares does NOT. */
object WelfordLaws extends Properties("welfordStep") {
  import graft.streaming.StatefulOps
  import graft.streaming.StatefulOps.WelfordState

  private val xs = Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6))

  property("count, mean, and variance track the two-pass reference") =
    forAll(xs) { vs =>
      val s = vs.foldLeft(WelfordState(0L, 0.0, 0.0))(StatefulOps.welfordStep)
      val em = vs.sum / vs.size
      val ev = vs.map(x => (x - em) * (x - em)).sum / vs.size
      s.n == vs.size &&
        math.abs(s.mean - em) <= 1e-6 * math.max(1.0, math.abs(em)) &&
        math.abs(s.m2 / s.n - ev) <= 1e-6 * math.max(1.0, ev)
    }
}

/** Laws for the last-touch attribution transition: the batch-split
  * law is the same micro-batch-boundary argument as FunnelLaws, and
  * the latency bounds pin the purchase guard (no negative latency, no
  * credit past the window). */
object AttributionLaws extends Properties("advanceAttribution") {
  import graft.streaming.StatefulOps
  import graft.streaming.StatefulOps.{AttributionMaxLagUs, TouchEvent}

  private val eventGen: Gen[TouchEvent] = for {
    id <- Gen.chooseNum(1L, 1000000L)
    t <- Gen.chooseNum(0L, 3L * AttributionMaxLagUs / 1000)
    typ <- Gen.oneOf("view", "click", "purchase", "scroll")
  } yield TouchEvent(id, 1L, typ, new java.sql.Timestamp(t))
  private val sortedSeq: Gen[List[TouchEvent]] =
    Gen.listOf(eventGen).map(_.sortBy(e => (e.ts.getTime, e.event_id)))

  property("hits have non-negative latency bounded by the window") =
    forAll(sortedSeq) { evs =>
      val hits = StatefulOps.advanceAttribution(null, evs)._2
      hits.forall(h => h.latency_us >= 0 && h.latency_us <= AttributionMaxLagUs)
    }

  property("any batch split yields the same hits once state threads across") =
    forAll(sortedSeq, Gen.chooseNum(0, 1000)) { (evs, cut) =>
      val k = if (evs.isEmpty) 0 else cut % (evs.size + 1)
      val (l, r) = evs.splitAt(k)
      val onePass = StatefulOps.advanceAttribution(null, evs)._2
      val (s1, h1) = StatefulOps.advanceAttribution(null, l)
      val h2 = StatefulOps.advanceAttribution(s1, r)._2
      (h1 ++ h2) == onePass
    }
}

/** Laws for the cohort-retention transition — the trickiest of the
  * three replay-twin kernels because its state spans TWO cells (a
  * 64-week bitmask and the far-week set). The split law must hold for
  * cuts landing exactly on the bitmask/map boundary, and emit-once
  * must hold across it. */
object RetentionLaws extends Properties("advanceRetention") {
  import graft.streaming.StatefulOps
  import graft.streaming.StatefulOps.{RetentionEvent, RetentionState}

  private val WeekMs = 7L * 86400000L
  // event times spanning ~200 weeks so sequences regularly cross the
  // 64-week bitmask horizon
  private val eventGen: Gen[RetentionEvent] = for {
    t <- Gen.chooseNum(0L, 200L * WeekMs)
  } yield RetentionEvent(1L, new java.sql.Timestamp(t))
  private val sortedSeq: Gen[List[RetentionEvent]] =
    Gen.listOf(eventGen).map(_.sortBy(_.ts.getTime))

  private def run(s0: RetentionState, far0: Set[Long], evs: List[RetentionEvent]) =
    StatefulOps.advanceRetention(1L, s0, far0, evs)

  property("each (cohort, week) cell emits exactly once, weeks non-negative") =
    forAll(sortedSeq) { evs =>
      val hits = run(null, Set.empty, evs)._3
      val cells = hits.map(h => (h.cohort_day, h.week_offset))
      cells == cells.distinct && hits.forall(_.week_offset >= 0) &&
        // every cell is anchored to the FIRST event's day
        hits.forall(h => evs.nonEmpty &&
          h.cohort_day == Math.floorDiv(evs.head.ts.getTime, 86400000L))
    }

  property("any batch split yields the same cells once state threads across") =
    forAll(sortedSeq, Gen.chooseNum(0, 1000)) { (evs, cut) =>
      val k = if (evs.isEmpty) 0 else cut % (evs.size + 1)
      val (l, r) = evs.splitAt(k)
      val onePass = run(null, Set.empty, evs)._3
      val (s1, far1, h1) = run(null, Set.empty, l)
      val h2 = run(s1, far1, r)._3
      (h1 ++ h2) == onePass
    }
}

/** Laws for the one-pass Gram/moment accumulator: exactness against a
  * BigInt reference under ANY partition split (Spark chooses the
  * split), including magnitudes that force the big-integer spill lane
  * the parquet fixtures never reach. */
object GramMomentsLaws extends Properties("GramMoments") {
  import graft.functions.GramMoments

  private val nd = 3
  private val agg = GramMoments(nd)
  // products of two ±3e9 values reach ~9e18: inside multiplyExact
  // range but past the spill guard — the exact-lane trigger
  private val bigV = Gen.chooseNum(-3000000000L, 3000000000L)
  private val smallV = Gen.chooseNum(-10000000L, 10000000L)
  private def vec(g: Gen[Long]): Gen[Array[Long]] = Gen.listOfN(nd, g).map(_.toArray)
  private val anyVec = Gen.oneOf(vec(bigV), vec(smallV))

  private def reference(xs: List[Array[Long]]): (Long, Seq[BigInt]) = {
    val width = nd + nd * (nd + 1) / 2
    val s = Array.fill(width)(BigInt(0))
    xs.foreach { a =>
      var base = nd
      var i = 0
      while (i < nd) {
        s(i) += BigInt(a(i))
        var j = i
        while (j < nd) { s(base + (j - i)) += BigInt(a(i)) * BigInt(a(j)); j += 1 }
        base += nd - i
        i += 1
      }
    }
    (xs.length.toLong, s.toSeq)
  }

  private def fold(xs: List[Array[Long]]) = xs.foldLeft(agg.zero)(agg.reduce)

  private def matches(out: graft.functions.MomentsOut, xs: List[Array[Long]]): Boolean = {
    val (n, ref) = reference(xs)
    out.n == n && out.sums.indices.forall(i =>
      out.sums(i) == BigDecimal(ref(i)).toDouble)
  }

  property("any split-and-merge equals the exact BigInt reference") =
    forAll(Gen.listOf(anyVec), Gen.chooseNum(0, 100)) { (xs, cut) =>
      val k = if (xs.isEmpty) 0 else cut % (xs.size + 1)
      val (l, r) = xs.splitAt(k)
      matches(agg.finish(agg.merge(fold(l), fold(r))), xs)
    }

  property("the spill lane engages on large magnitudes and stays exact") =
    forAll(Gen.chooseNum(1, 6)) { m =>
      val xs = List.fill(m)(Array.fill(nd)(3000000000L))
      val b = fold(xs)
      b.spill.nonEmpty && matches(agg.finish(b), xs)
    }

  property("merging a spilled and an unspilled buffer stays exact") =
    forAll(Gen.nonEmptyListOf(vec(bigV)), Gen.nonEmptyListOf(vec(smallV))) { (l, r) =>
      matches(agg.finish(agg.merge(fold(l), fold(r))), l ++ r) &&
        matches(agg.finish(agg.merge(fold(r), fold(l))), r ++ l)
    }
}

/** Laws for the driver-side Jacobi eigensolve: on ANY random symmetric
  * matrix the output must actually BE an eigensystem — orthonormal
  * basis, residual-free eigen equation, descending order, and exact
  * reconstruction — to tolerances far tighter than the 1e-6 gates the
  * PCA query publishes. */
object EigenLaws extends Properties("Eigen.symmetric") {
  import graft.functions.Eigen

  private val dim = Gen.chooseNum(1, 8)
  private def symMatrix(n: Int): Gen[Array[Array[Double]]] =
    Gen.listOfN(n * n, Gen.chooseNum(-100.0, 100.0)).map { xs =>
      val raw = xs.toArray
      Array.tabulate(n, n)((i, j) => (raw(i * n + j) + raw(j * n + i)) / 2)
    }
  private val genSym = dim.flatMap(symMatrix)

  private def frob(a: Array[Array[Double]]): Double =
    math.sqrt(a.map(_.map(x => x * x).sum).sum)

  property("A·v = λ·v, V orthonormal, λ descending, A reconstructs") =
    forAll(genSym) { a =>
      val n = a.length
      val (vals, vecs) = Eigen.symmetric(a)
      val tol = 1e-10 * math.max(frob(a), 1.0)
      val eigenEq = (0 until n).forall { c =>
        (0 until n).forall { i =>
          val av = (0 until n).map(j => a(i)(j) * vecs(c)(j)).sum
          math.abs(av - vals(c) * vecs(c)(i)) <= tol
        }
      }
      val orth = (0 until n).forall { c1 =>
        (c1 until n).forall { c2 =>
          val d = (0 until n).map(k => vecs(c1)(k) * vecs(c2)(k)).sum
          math.abs(d - (if (c1 == c2) 1.0 else 0.0)) <= 1e-12
        }
      }
      val sorted = (1 until n).forall(c => vals(c) <= vals(c - 1) + tol)
      val recon = (0 until n).forall { i =>
        (0 until n).forall { j =>
          val s = (0 until n).map(c => vals(c) * vecs(c)(i) * vecs(c)(j)).sum
          math.abs(s - a(i)(j)) <= tol
        }
      }
      eigenEq && orth && sorted && recon
    }

  property("canonical sign: the largest-|entry| coordinate is non-negative") =
    forAll(genSym) { a =>
      val (_, vecs) = Eigen.symmetric(a)
      vecs.forall { v =>
        val best = v.indices.maxBy(i => (math.abs(v(i)), -i))
        v(best) >= 0.0
      }
    }
}

/** Laws for the count-min sketch: split-invariant merges, one-sided
  * error, and conserved row mass — the distributed-correctness
  * contract of a sketch whose merge is elementwise addition. */
object CountMinLaws extends Properties("CountMinSketch") {
  import graft.functions.CountMinSketch

  private val cm = CountMinSketch(depth = 3, width = 16)
  private val tokens = Gen.listOf(Gen.oneOf("a", "b", "c", "dd", "ee", "f1", "g", "hhh"))

  private def build(xs: List[String]) = xs.foldLeft(cm.zero)(cm.reduce)

  property("any split-and-merge equals the one-pass sketch") =
    forAll(tokens, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val k = if (xs.isEmpty) 0 else cut % (xs.size + 1)
      val (l, r) = xs.splitAt(k)
      cm.merge(build(l), build(r)).rows.toSeq == build(xs).rows.toSeq
    }

  property("estimate never undercounts any token") =
    forAll(tokens) { xs =>
      val s = cm.finish(build(xs))
      xs.distinct.forall(t => cm.estimate(s, t) >= xs.count(_ == t).toLong)
    }

  property("every sketch row sums to the stream length") =
    forAll(tokens) { xs =>
      val s = cm.finish(build(xs))
      (0 until cm.depth).forall(r =>
        s.rows.slice(r * cm.width, (r + 1) * cm.width).sum == xs.length.toLong)
    }
}

/** Laws for quota admission — the simplest kernel, but its split law
  * is what makes the streaming sampler's checkpoint-replay admission
  * set reproducible. */
/** Laws for the shingle-novelty transition — the replay-determinism
  * argument of the streaming novelty twin: threading first-seen state
  * through ANY batch cut of the ascending doc stream reproduces the
  * one-pass flags, and exactly one doc per shingle is ever novel. */
object NoveltyLaws extends Properties("advanceNovelty") {
  import graft.streaming.StatefulOps

  private val ascDocs: Gen[List[Long]] =
    Gen.nonEmptyListOf(Gen.chooseNum(1L, 100000L)).map(_.distinct.sorted)

  property("exactly one novel flag, on the smallest doc, iff unseen") =
    forAll(ascDocs, Gen.option(Gen.chooseNum(1L, 100000L))) { (docs, st) =>
      val (first, flags) = StatefulOps.advanceNovelty(st, docs)
      val novel = flags.filter(_._2).map(_._1)
      flags.map(_._1) == docs &&
        (st match {
          case Some(s) => first == s && novel.isEmpty
          case None => first == docs.head && novel == Seq(docs.head)
        })
    }

  property("any batch split threads to the same flags and final state") =
    forAll(ascDocs, Gen.chooseNum(0, 1000)) { (docs, cut) =>
      val k = cut % (docs.size + 1)
      val (l, r) = docs.splitAt(k)
      val (f1, a1) = StatefulOps.advanceNovelty(None, docs)
      val (stMid, al) =
        if (l.isEmpty) (Option.empty[Long], Seq.empty[(Long, Boolean)])
        else { val (f, a) = StatefulOps.advanceNovelty(None, l); (Some(f), a) }
      val (f2, a2) =
        if (r.isEmpty) (stMid.getOrElse(f1), Seq.empty[(Long, Boolean)])
        else StatefulOps.advanceNovelty(stMid, r)
      (al ++ a2) == a1 && f2 == f1
    }
}

object QuotaLaws extends Properties("advanceQuota") {
  import graft.streaming.StatefulOps
  import graft.streaming.StatefulOps.QuotaDoc

  private val docGen: Gen[QuotaDoc] = for {
    id <- Gen.chooseNum(1L, 100000L)
    t <- Gen.chooseNum(0L, 100000L)
  } yield QuotaDoc(id, "src", new java.sql.Timestamp(t))
  private val sortedSeq: Gen[List[QuotaDoc]] =
    Gen.listOf(docGen).map(_.sortBy(d => (d.ts.getTime, d.doc_id)))
  private val quotaGen = Gen.chooseNum(0L, 20L)

  property("admits exactly the first min(quota, n) docs in order") =
    forAll(sortedSeq, quotaGen) { (docs, q) =>
      val (n, out) = StatefulOps.advanceQuota(0L, q, docs)
      out == docs.take(q.toInt) && n == math.min(q, docs.size.toLong)
    }

  property("any batch split yields the same admissions once the count threads") =
    forAll(sortedSeq, quotaGen, Gen.chooseNum(0, 1000)) { (docs, q, cut) =>
      val k = if (docs.isEmpty) 0 else cut % (docs.size + 1)
      val (l, r) = docs.splitAt(k)
      val onePass = StatefulOps.advanceQuota(0L, q, docs)._2
      val (n1, a1) = StatefulOps.advanceQuota(0L, q, l)
      val a2 = StatefulOps.advanceQuota(n1, q, r)._2
      (a1 ++ a2) == onePass
    }
}

object EwmaLaws extends Properties("advanceEwma") {
  import graft.streaming.StatefulOps

  /** Ascending, distinct (day, cnt) series — what a windowed daily
    * rollup emits per event type. */
  private val series: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 40)
    days <- Gen.listOfN(n, Gen.choose(0L, 80L)).map(_.distinct.sorted)
    cnts <- Gen.listOfN(days.length, Gen.choose(1L, 1000L))
  } yield days.zip(cnts)

  property("any batch cut + threaded state = one pass") =
    forAll(series, Gen.choose(0, 40)) { (s, cutRaw) =>
      val cut = math.min(cutRaw, s.length)
      val (a, b) = s.splitAt(cut)
      val (st1, o1) = StatefulOps.advanceEwma(None, a)
      val (_, o2) = StatefulOps.advanceEwma(st1, b)
      val (_, all) = StatefulOps.advanceEwma(None, s)
      (o1 ++ o2) == all
    }

  property("smoothed value equals the direct 20-day fixed-point formula") =
    forAll(series) { s =>
      val m = s.toMap
      val (_, out) = StatefulOps.advanceEwma(None, s)
      out.size == s.size && out.forall { case (day, cnt, scaled) =>
        val direct = (0 until StatefulOps.EwmaHorizon).map { i =>
          m.getOrElse(day - i, 0L) *
            (1L << (StatefulOps.EwmaHorizon - 1 - i))
        }.sum
        cnt == m(day) && scaled == direct
      }
    }

  property("re-delivered days emit nothing and leave state unchanged") =
    forAll(series) { s =>
      val (st1, _) = StatefulOps.advanceEwma(None, s)
      val (st2, replay) = StatefulOps.advanceEwma(st1, s)
      replay.isEmpty && st2 == st1
    }
}

object SeqMonitorLaws extends Properties("advanceSeqMoments") {
  import graft.streaming.StatefulOps

  /** Ascending, distinct (day, cents) purchase series for one user. */
  private val series: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 40)
    days <- Gen.listOfN(n, Gen.choose(0L, 80L)).map(_.distinct.sorted)
    cents <- Gen.listOfN(days.length, Gen.choose(1L, 100000L))
  } yield days.zip(cents)

  property("any batch cut + threaded state = one pass") =
    forAll(series, Gen.choose(0, 40)) { (s, cutRaw) =>
      val cut = math.min(cutRaw, s.length)
      val (a, b) = s.splitAt(cut)
      val (st1, o1) = StatefulOps.advanceSeqMoments(None, 0, a)
      val (_, o2) = StatefulOps.advanceSeqMoments(st1, 0, b)
      val (_, all) = StatefulOps.advanceSeqMoments(None, 0, s)
      (o1 ++ o2) == all
    }

  property("deltas telescope: cumulative sums reproduce the carry-forward moments") =
    forAll(series) { s =>
      val (_, out) = StatefulOps.advanceSeqMoments(None, 1, s)
      var (cum, dn, dsum, dsumsq) = (0L, 0L, 0L, 0L)
      out.zip(s).forall { case (d, (day, cents)) =>
        cum += cents; dn += d.dn; dsum += d.dsum; dsumsq += d.dsumsq
        d.day == day && d.arm == 1 &&
          dn == 1L && dsum == cum && dsumsq == cum * cum
      }
    }

  property("re-delivered days emit nothing and leave state unchanged") =
    forAll(series) { s =>
      val (st1, _) = StatefulOps.advanceSeqMoments(None, 0, s)
      val (st2, replay) = StatefulOps.advanceSeqMoments(st1, 0, s)
      replay.isEmpty && st2 == st1
    }
}

object KAnonLaws extends Properties("advanceKAnon") {
  import graft.streaming.StatefulOps
  import graft.streaming.StatefulOps.KAnonState

  /** Sensitive-attribute buckets of one class's arrivals (duplicates
    * common — many docs share a length bucket). */
  private val arrivals: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(0L, 12L))

  property("any batch cut + threaded state = one pass") =
    forAll(arrivals, Gen.chooseNum(0, 50)) { (s, cutRaw) =>
      val cut = math.min(cutRaw, s.length)
      val (a, b) = s.splitAt(cut)
      val st1 = StatefulOps.advanceKAnon(None, a)
      StatefulOps.advanceKAnon(Some(st1), b) ==
        StatefulOps.advanceKAnon(None, s)
    }

  property("arrival order is irrelevant: any permutation converges") =
    forAll(arrivals) { s =>
      StatefulOps.advanceKAnon(None, s) ==
        StatefulOps.advanceKAnon(None, s.reverse) &&
      StatefulOps.advanceKAnon(None, s) ==
        StatefulOps.advanceKAnon(None, s.sorted)
    }

  property("count and diversity are monotone: risk only decays") =
    forAll(arrivals, arrivals) { (a, b) =>
      val st1 = StatefulOps.advanceKAnon(None, a)
      val st2 = StatefulOps.advanceKAnon(Some(st1), b)
      st2.class_n >= st1.class_n &&
        st2.buckets.length >= st1.buckets.length &&
        // a class that reached safety can never become risky again
        // (thresholds are the batch query's own constants)
        (st1.class_n >= graft.operators.TextOps.KAnonK) <=
          (st2.class_n >= graft.operators.TextOps.KAnonK) &&
        (st1.buckets.length >= graft.operators.TextOps.KAnonL) <=
          (st2.buckets.length >= graft.operators.TextOps.KAnonL)
    }

  property("state is canonical: buckets sorted distinct, count = arrivals") =
    forAll(arrivals) { s =>
      val st = StatefulOps.advanceKAnon(None, s)
      st == KAnonState(s.length.toLong, s.distinct.sorted) &&
        st.buckets == st.buckets.distinct.sorted
    }
}

object ReservoirLaws extends Properties("mergeReservoir") {
  import graft.streaming.StatefulOps
  import graft.streaming.StatefulOps.ResDoc
  private val k = 5
  // doc_id is a KEY (it determines weight and race key, as in the real
  // relation) — otherwise two rows tied on (e, doc_id) with different
  // weights would make the sort non-total and the laws vacuous noise.
  // The small ranges force duplicates and key ties, so the dedup and
  // the doc_id tie-break are actually exercised.
  private def doc(id: Long) = ResDoc(id, id % 7 + 1, (id % 5 + 1).toDouble)
  private val docs: Gen[List[ResDoc]] =
    Gen.listOf(Gen.chooseNum(0L, 30L).map(doc))

  property("any batch split converges to one merge") =
    forAll(docs, docs) { (a, b) =>
      StatefulOps.mergeReservoir(
        StatefulOps.mergeReservoir(Nil, a, k), b, k) ==
        StatefulOps.mergeReservoir(Nil, a ++ b, k)
    }

  property("re-delivered batches are idempotent") = forAll(docs) { a =>
    val once = StatefulOps.mergeReservoir(Nil, a, k)
    StatefulOps.mergeReservoir(once, a, k) == once
  }

  property("arrival order is irrelevant") = forAll(docs) { a =>
    StatefulOps.mergeReservoir(Nil, a, k) ==
      StatefulOps.mergeReservoir(Nil, a.reverse, k)
  }

  property("reservoir holds the k smallest distinct keys, id tie-broken") =
    forAll(docs) { a =>
      StatefulOps.mergeReservoir(Nil, a, k) ==
        a.distinct.sortBy(d => (d.e1000_r, d.doc_id)).take(k)
    }
}

object AdcTopKLaws extends Properties("mergeAdc") {
  import graft.streaming.StatefulOps
  import graft.streaming.StatefulOps.AdcCand
  private val k = 3
  // n_id is a KEY (one ADC distance per (query, neighbor) pair in the
  // real relation); the small ranges force duplicates and distance
  // ties, so the dedup and the n_id tie-break are actually exercised.
  private def cand(id: Long) = AdcCand(0L, id, id % 5 + 1)
  private val cands: Gen[List[AdcCand]] =
    Gen.listOf(Gen.chooseNum(0L, 30L).map(cand))

  property("any batch split converges to one merge") =
    forAll(cands, cands) { (a, b) =>
      StatefulOps.mergeAdc(
        StatefulOps.mergeAdc(Nil, a, k), b, k) ==
        StatefulOps.mergeAdc(Nil, a ++ b, k)
    }

  property("re-delivered batches are idempotent") = forAll(cands) { a =>
    val once = StatefulOps.mergeAdc(Nil, a, k)
    StatefulOps.mergeAdc(once, a, k) == once
  }

  property("arrival order is irrelevant") = forAll(cands) { a =>
    StatefulOps.mergeAdc(Nil, a, k) ==
      StatefulOps.mergeAdc(Nil, a.reverse, k)
  }

  property("top-k holds the k smallest distinct distances, id tie-broken") =
    forAll(cands) { a =>
      StatefulOps.mergeAdc(Nil, a, k) ==
        a.distinct.sortBy(c => (c.adc_dist, c.n_id)).take(k)
    }
}

object KmvLaws extends Properties("kmvSketch") {
  import graft.streaming.StatefulOps
  private val k = 8
  private val hashes = Gen.listOf(Gen.chooseNum(1L, 1L << 40))

  property("merge is a set union: any batch split converges to one sketch") =
    forAll(hashes, hashes) { (a, b) =>
      val threaded = StatefulOps.mergeMinima(
        StatefulOps.mergeMinima(Nil, a, k), b, k)
      threaded == StatefulOps.mergeMinima(Nil, a ++ b, k)
    }

  property("replayed batches are idempotent") = forAll(hashes) { a =>
    val once = StatefulOps.mergeMinima(Nil, a, k)
    StatefulOps.mergeMinima(once, a, k) == once
  }

  property("sketch holds the k smallest distinct values, sorted") =
    forAll(hashes) { a =>
      StatefulOps.mergeMinima(Nil, a, k) == a.distinct.sorted.take(k)
    }

  property("estimator is exact below k and positive at k") = forAll(hashes) { a =>
    val m = StatefulOps.mergeMinima(Nil, a, k)
    val est = StatefulOps.kmvEstimate(m, k)
    if (m.size < k) est == m.size.toLong else est > 0L
  }
}

object CusumLaws extends Properties("advanceCusum") {
  import graft.streaming.StatefulOps
  private val series: Gen[List[(Long, Long)]] = for {
    n <- Gen.chooseNum(0, 30)
    days = (1 to n).map(_.toLong)
    cnts <- Gen.listOfN(n, Gen.chooseNum(0L, 50L))
  } yield days.zip(cnts).toList

  property("any batch split threads to the one-pass emissions") =
    forAll(series, Gen.chooseNum(0, 30), Gen.chooseNum(0L, 20L)) { (s, cut0, t) =>
      val cut = math.min(cut0, s.length)
      val (a, b) = s.splitAt(cut)
      val (st1, o1) = StatefulOps.advanceCusum(None, t, t / 20, a)
      val (_, o2) = StatefulOps.advanceCusum(st1, t, t / 20, b)
      val (_, all) = StatefulOps.advanceCusum(None, t, t / 20, s)
      o1 ++ o2 == all
    }

  property("re-delivered days emit nothing and leave state unchanged") =
    forAll(series, Gen.chooseNum(0L, 20L)) { (s, t) =>
      val (st1, _) = StatefulOps.advanceCusum(None, t, t / 20, s)
      val (st2, replay) = StatefulOps.advanceCusum(st1, t, t / 20, s)
      replay.isEmpty && (s.isEmpty || st2 == st1)
    }

  property("cusum is never negative and resets absorb deficits") =
    forAll(series, Gen.chooseNum(0L, 20L)) { (s, t) =>
      val (_, out) = StatefulOps.advanceCusum(None, t, t / 20, s)
      out.forall(_._3 >= 0L)
    }
}

object PathLaws extends Properties("advancePaths") {
  import graft.streaming.StatefulOps
  // sorted per-user event sequences: small time domain so both
  // within-session steps and >30-min session breaks are generated
  private val events: Gen[List[(Long, Long, String)]] = for {
    n <- Gen.chooseNum(0, 30)
    ts <- Gen.listOfN(n, Gen.chooseNum(0L, 10L))
    // "" included deliberately (ADVICE r9): an empty event_type must
    // flow through trigram emission like any other value — the naive
    // sliding(3).mkString recompute below IS the batch concat_ws
    // semantics, so the old empty-string warm-up sentinel fails here
    et <- Gen.listOfN(n, Gen.oneOf("view", "click", "purchase", ""))
  } yield ts.sorted.map(_ * 1200000000L) // 20-min steps: gaps straddle 30 min
    .zipWithIndex.zip(et).map { case ((t, i), e) => (t, i.toLong, e) }

  property("any batch split threads to the one-pass trigram emissions") =
    forAll(events, Gen.chooseNum(0, 30)) { (s, cut0) =>
      val cut = math.min(cut0, s.length)
      val (a, b) = s.splitAt(cut)
      val (st1, o1) = StatefulOps.advancePaths(None, a)
      val (_, o2) = StatefulOps.advancePaths(Some(st1), b)
      val (_, all) = StatefulOps.advancePaths(None, s)
      o1 ++ o2 == all
    }

  property("no trigram spans a session break; sids increase monotonically") =
    forAll(events) { s =>
      val (_, out) = StatefulOps.advancePaths(None, s)
      // recompute sessions naively
      var sid = 0L; var last = Long.MinValue
      val sessions = s.map { case (t, _, e) =>
        if (last == Long.MinValue || t - last > 1800000000L) sid += 1
        last = t
        (sid, e)
      }
      val bySession = sessions.groupBy(_._1).view
        .mapValues(_.map(_._2).sliding(3).filter(_.length == 3)
          .map(_.mkString(">")).toList).toMap
      val want = bySession.toList.flatMap { case (k, v) => v.map(k -> _) }
      out.sorted == want.sorted &&
        out.map(_._1).foldLeft((true, 0L)) { case ((ok, m), x) =>
          (ok && x >= m, math.max(m, x)) }._1
    }
}

object DomainLaws extends Properties("advanceDomainStats") {
  import graft.streaming.StatefulOps
  // per-host arrival sequences: (doc_id ascending, q_level, hash)
  private val rows: Gen[List[(Long, Long, Long)]] = for {
    n  <- Gen.chooseNum(0, 40)
    qs <- Gen.listOfN(n, Gen.chooseNum(0L, 100L))
    hs <- Gen.listOfN(n, Gen.chooseNum(0L, 999999L))
  } yield qs.zip(hs).zipWithIndex.map { case ((q, h), i) => (i.toLong, q, h) }
  private val refs: Gen[(Long, Long)] =
    for { gm <- Gen.chooseNum(1L, 100000L); cap <- Gen.chooseNum(1L, 50L) }
      yield (gm, cap)

  property("any batch split threads to the one-pass emissions") =
    forAll(rows, Gen.chooseNum(0, 40), refs) { case (s, cut0, (gm, cap)) =>
      val cut = math.min(cut0, s.length)
      val (a, b) = s.splitAt(cut)
      val (st1, o1) = StatefulOps.advanceDomainStats(None, gm, cap, a)
      val (_, o2) = StatefulOps.advanceDomainStats(Some(st1), gm, cap, b)
      val (_, all) = StatefulOps.advanceDomainStats(None, gm, cap, s)
      o1 ++ o2 == all
    }

  property("state is the exact fold; emitted stats are the running prefixes") =
    forAll(rows, refs) { case (s, (gm, cap)) =>
      val (st, out) = StatefulOps.advanceDomainStats(None, gm, cap, s)
      st.nDocs == s.length.toLong && st.qSum == s.map(_._2).sum &&
        out.map(_._2) == (1L to s.length.toLong).toList &&
        out.map(_._3) == s.map(_._2).scanLeft(0L)(_ + _).tail &&
        out.zip(s).forall { case ((_, n, q, v), (_, _, h)) =>
          v == StatefulOps.domainVerdict(n, q, h, gm, cap) }
    }
}

object CrawlLaws extends Properties("advanceCrawl") {
  import graft.streaming.StatefulOps
  private val fps: Gen[List[String]] = for {
    n  <- Gen.chooseNum(0, 40)
    xs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
  } yield xs
  private val st0: Gen[Option[String]] =
    Gen.option(Gen.oneOf("a", "b", "c", "d"))

  property("any batch split threads to the one-pass statuses") =
    forAll(st0, fps, Gen.chooseNum(0, 40)) { (s0, s, cut0) =>
      val cut = math.min(cut0, s.length)
      val (a, b) = s.splitAt(cut)
      val (st1, o1) = StatefulOps.advanceCrawl(s0, a)
      val (st2, o2) = StatefulOps.advanceCrawl(st1, b)
      val (stAll, all) = StatefulOps.advanceCrawl(s0, s)
      o1 ++ o2 == all && st2 == stAll
    }

  property("each status names exactly the relation to its predecessor") =
    forAll(st0, fps) { (s0, s) =>
      val (st, out) = StatefulOps.advanceCrawl(s0, s)
      val preds = s0 +: s.map(Some(_)).dropRight(1)
      st == (if (s.isEmpty) s0 else Some(s.last)) &&
        out.zip(preds.zip(s)).forall { case (status, (p, fp)) =>
          status == (p match {
            case None => "added"
            case Some(x) if x != fp => "changed"
            case _ => "unchanged"
          })
        }
    }

  property("an exact replay of the last observation is all-unchanged") =
    forAll(fps.suchThat(_.nonEmpty)) { s =>
      val (st1, _) = StatefulOps.advanceCrawl(None, s)
      val (st2, replay) = StatefulOps.advanceCrawl(st1, Seq(s.last))
      replay == Seq("unchanged") && st2 == st1
    }
}

object WalGapLaws extends Properties("advanceWalGaps") {
  import graft.streaming.StatefulOps
  private val wals: Gen[List[Long]] = for {
    n <- Gen.chooseNum(0, 40)
    xs <- Gen.listOfN(n, Gen.chooseNum(1L, 200L))
  } yield xs.distinct.sorted

  property("any batch split threads to the one-pass gap emissions") =
    forAll(wals, Gen.chooseNum(0, 40)) { (s, cut0) =>
      val cut = math.min(cut0, s.length)
      val (a, b) = s.splitAt(cut)
      val (st1, o1) = StatefulOps.advanceWalGaps(None, a)
      val (_, o2) = StatefulOps.advanceWalGaps(st1, b)
      val (_, all) = StatefulOps.advanceWalGaps(None, s)
      o1 ++ o2 == all
    }

  property("replayed positions emit nothing and leave state unchanged") =
    forAll(wals) { s =>
      val (st1, _) = StatefulOps.advanceWalGaps(None, s)
      val (st2, replay) = StatefulOps.advanceWalGaps(st1, s)
      replay.isEmpty && (s.isEmpty || st2 == st1)
    }

  property("gap accounting: emitted widths sum to the running total") =
    forAll(wals) { s =>
      val (_, out) = StatefulOps.advanceWalGaps(None, s)
      out.map(_._3).sum == out.lastOption.map(_._4).getOrElse(0L) &&
        out.forall { case (f, t, m, _) => t - f + 1 == m && m >= 1 }
    }

  // Makes the delivery-order contract VISIBLE (r8 advice): a genuinely
  // late position first delivered in a LATER batch — after a higher
  // position advanced the cursor — is indistinguishable from a replay
  // and is dropped, so the gap it should have filled stays reported.
  // In-order delivery is a requirement of the operator, not an
  // incidental property of the tests.
  property("out-of-order delivery is NOT replay-safe: late fills stay gaps") =
    forAll(Gen.chooseNum(1L, 100L), Gen.chooseNum(2L, 10L)) { (lo, w) =>
      val late = lo + 1            // delivered one batch too late
      val (st1, o1) = StatefulOps.advanceWalGaps(None, Seq(lo, lo + w))
      val (st2, o2) = StatefulOps.advanceWalGaps(st1, Seq(late))
      // batch 1 reported [lo+1, lo+w-1] missing; the late arrival of
      // lo+1 emits no correction and leaves state untouched
      o1.exists(g => g._1 <= late && late <= g._2) &&
        o2.isEmpty && st2 == st1
    }
}

/** Laws for the streaming Kneser-Ney per-document fold
  * ([[graft.streaming.StatefulOps.knRollup]]) — the
  * replay-determinism and aggregation-correctness argument for the
  * serving twin: arrival rows reach the processor in arbitrary
  * micro-batch order, so order invariance IS the two-cut-equality
  * precondition, and the grouped cnt-weighted fold must agree with a
  * naive per-occurrence mean. The fold laws' rows carry the published
  * formula's logp, computed here; the two single-row laws take logp
  * from `TextOps.knLogp`, the Spark expression the batch scorer and
  * the twin both evaluate, on generated counts. The label is the
  * deleted Scala scorer's name, kept so the five property ids stay. */
object KnScoreLaws extends Properties("knScoreRows") {
  import graft.streaming.StatefulOps.KnBigram

  private val words = Gen.oneOf("w0", "w1", "w2", "w3", "w4", "w5")
  // a CONSISTENT joined row: stats are functions of the keys — a seen
  // bigram implies a seen context (c2 defined ⇒ c1 defined), c1/n1p
  // travel together, cont is independent
  private case class Model(ctx: Map[String, (Long, Long)],
    big: Map[(String, String), Long], cont: Map[String, Long], t: Long)
  private val model: Gen[Model] = for {
    ctxWords <- Gen.someOf("w0", "w1", "w2", "w3")
    ctx <- Gen.sequence[List[(String, (Long, Long))], (String, (Long, Long))](
      ctxWords.toList.map(w => Gen.zip(
        Gen.chooseNum(1L, 50L), Gen.chooseNum(1L, 5L)).map(w -> _)))
    pairs <- Gen.someOf(for { w1 <- ctxWords; w2 <- Seq("w0", "w1", "w5") }
      yield (w1, w2))
    big <- Gen.sequence[List[((String, String), Long)], ((String, String), Long)](
      pairs.toList.map(p => Gen.chooseNum(1L, 20L).map(p -> _)))
    contWords <- Gen.someOf("w0", "w1", "w2", "w3", "w4", "w5")
    cont <- Gen.sequence[List[(String, Long)], (String, Long)](
      contWords.toList.map(w => Gen.chooseNum(1L, 30L).map(w -> _)))
    t <- Gen.chooseNum(math.max(1L, big.size.toLong), 1000L)
  } yield Model(ctx.toMap, big.toMap, cont.toMap, t)
  private def rowOf(m: Model, w1: String, w2: String): KnBigram = {
    val (c2, c1) = (m.big.get((w1, w2)), m.ctx.get(w1))
    KnBigram(7L, w1, w2, c2, c1.map(_._1),
      logpOf(m.t, c2, c1.map(_._1), c1.map(_._2), m.cont.get(w2)))
  }
  private val modelAndRows: Gen[(Model, List[KnBigram])] = for {
    m <- model
    ws = Seq("w0", "w1", "w2", "w3", "w4", "w5")
    rows <- Gen.nonEmptyListOf(for {
      w1 <- Gen.oneOf(ws); w2 <- Gen.oneOf(ws)
    } yield rowOf(m, w1, w2))
  } yield (m, rows)
  private def logpOf(t: Long, c2: Option[Long], c1: Option[Long],
      n1p: Option[Long], cont: Option[Long]): Double = {
    val pcont = cont.getOrElse(1L).toDouble / t
    c1 match {
      case None => math.log(pcont)
      case Some(c1) =>
        val disc = c2 match { case Some(c2) => c2 - 0.75; case None => 0.0 }
        math.log((disc + 0.75 * n1p.get * pcont) / c1)
    }
  }

  /** `TextOps.knLogp` over one (c2, c1, n1p, cont) row. */
  private def sparkLogp(t: Long, c2: Option[Long], c1: Option[Long],
      n1p: Option[Long], cont: Option[Long]): Double = {
    val spark = TestSpark.spark
    import spark.implicits._
    Seq((c2, c1, n1p, cont)).toDF("c2", "c1", "n1p", "cont")
      .select(graft.operators.TextOps.knLogp(t)).head.getDouble(0)
  }

  property("row order never changes the emitted row (replay determinism)") =
    forAll(modelAndRows, Gen.long) { case ((m, rows), seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      graft.streaming.StatefulOps.knRollup(7L, rows) ==
        graft.streaming.StatefulOps.knRollup(7L, shuffled)
    }

  property("branch counters partition the occurrences exactly") =
    forAll(modelAndRows) { case (m, rows) =>
      val got = graft.streaming.StatefulOps.knRollup(7L, rows)
      got.n_bigrams == rows.size &&
        got.n_unseen_ctx == rows.count(_.c1.isEmpty) &&
        got.n_interp == rows.count(r => r.c1.isDefined && r.c2.isEmpty) &&
        got.n_unseen_ctx + got.n_interp <= got.n_bigrams
    }

  property("grouped cnt-weighted fold agrees with the per-occurrence mean") =
    forAll(modelAndRows) { case (m, rows) =>
      val got = graft.streaming.StatefulOps.knRollup(7L, rows)
      val naive = rows.map(_.logp).sum / rows.size
      math.abs(got.avg_logp - naive) <= 2e-6
    }

  property("all-OOV arrivals score the closed-form continuation floor") =
    forAll(Gen.chooseNum(1L, 1000L), Gen.chooseNum(1, 20)) { (t, k) =>
      val rows = List.fill(k)(KnBigram(10L, "zz1", "zz2", None, None,
        sparkLogp(t, None, None, None, None)))
      val got = graft.streaming.StatefulOps.knRollup(10L, rows)
      val want = java.math.BigDecimal.valueOf(math.log(1.0 / t))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      got.avg_logp == want && got.n_unseen_ctx == k &&
        got.held_out == (10L % 10 != 0)
    }

  property("a fully-seen single bigram scores the formula verbatim") =
    forAll(Gen.chooseNum(1L, 20L), Gen.chooseNum(1L, 50L),
      Gen.chooseNum(1L, 5L), Gen.chooseNum(1L, 30L),
      Gen.chooseNum(30L, 1000L)) { (c2, c1raw, n1p, cont, t) =>
      val c1 = math.max(c1raw, c2)
      val r = KnBigram(3L, "a", "b", Some(c2), Some(c1),
        sparkLogp(t, Some(c2), Some(c1), Some(n1p), Some(cont)))
      val got = graft.streaming.StatefulOps.knRollup(3L, List(r))
      val want = java.math.BigDecimal.valueOf(math.log(
        ((c2 - 0.75) + 0.75 * n1p * (cont.toDouble / t)) / c1))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      got.avg_logp == want && got.n_interp == 0 && got.n_unseen_ctx == 0
    }
}
