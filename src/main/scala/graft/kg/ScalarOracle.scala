package graft.kg

import scala.collection.mutable

/** Single-threaded plain-Scala re-implementation of the pipeline semantics
  * (SURVEY §5 "Pipeline P/R harness"): this is the stand-in for "the
  * reference pipeline's emitted alignments" that the BASELINE.json P/R≥0.95
  * target is measured against. It shares every scalar function with the
  * Spark pipeline (Text.scala) and mirrors the Column arithmetic of
  * Scorer.score EXACTLY — including Catalyst's log(base,x) =
  * ln(x)/ln(base) form and the fold ORDER of every floating-point
  * aggregation (token-sorted for text vectors, dst-sorted for the social
  * graph, names-order for the Jaro-Winkler mean) — so at small scale the
  * triple sets must match bit-for-bit, not just at P/R≥0.95.
  *
  * No Spark imports here — pure loops + mutable maps, the way the reference
  * itself computes (parallelStream driver loops, PrepareTrainingSet.java).
  */
object ScalarOracle {

  private val AnnotationRe =
    "// @(author|mention) (\\S+) \\(([^)]*)\\)".r

  final case class ScoredCand(entityId: String, accountId: Long,
      screenName: String, freq: Long, score: Double, rank: Int,
      isAlignment: Boolean)

  def run(scale: CorpusGen.Scale, conf: KgConf = KgConf()): (Set[Triple], Seq[ScoredCand]) = {
    // ---------------- accounts
    val nAcc = CorpusGen.nAccounts(scale)
    val screenToId = mutable.HashMap.empty[String, Long]
    val accById = mutable.HashMap.empty[Long, Account]
    // F12 homepage lookup: url → #accounts carrying it (Scorer.hpCounts)
    val urlCount = mutable.HashMap.empty[String, Long]
    var ai = 0L
    while (ai < nAcc) {
      val a = CorpusGen.accountRow(ai, scale)
      screenToId(a.screenName) = a.accountId
      accById(a.accountId) = a
      if (a.url.nonEmpty) urlCount(a.url) = urlCount.getOrElse(a.url, 0L) + 1L
      ai += 1
    }

    // ---------------- corpus pass: dictionary + account text + social edges
    // (Scan.mentions + Dictionary.build + Features.textVectors/socialEdges)
    val dict = mutable.HashMap.empty[(String, Long), Long] // (name, accId) -> freq
    // token → 64-bit hash shared with the Spark side (xxhash64(0, token));
    // the text model is keyed by HASH end to end, mirroring Features'
    // hash-at-extraction (collisions merge identically on both engines)
    def th(t: String): Long = graft.ops.Dedup.xxLane(0, t)
    val accTf = mutable.HashMap.empty[Long, mutable.HashMap[Long, Long]]
    val edgeFreq = mutable.HashMap.empty[(Long, Long), Long]
    var fi = 0L
    while (fi < scale.nFiles) {
      val content = CorpusGen.contentOf(scale, fi)
      val authors = mutable.ArrayBuffer.empty[Long]
      val mentionsInFile = mutable.ArrayBuffer.empty[Long]
      AnnotationRe.findAllMatchIn(content).foreach { m =>
        val kind = m.group(1)
        val screen = m.group(2)
        val display = m.group(3)
        screenToId.get(screen).foreach { accId =>
          val name = Text.splitName(display) // F2 identifier splitting
          if (name.length >= 3)
            dict((name, accId)) = dict.getOrElse((name, accId), 0L) + 1L
          if (kind == "author") authors += accId else mentionsInFile += accId
        }
      }
      authors.foreach { a =>
        val tf = accTf.getOrElseUpdate(a, mutable.HashMap.empty)
        Text.tokens(content).foreach { t =>
          val h = th(t); tf(h) = tf.getOrElse(h, 0L) + 1L
        }
        mentionsInFile.foreach(m =>
          edgeFreq((a, m)) = edgeFreq.getOrElse((a, m), 0L) + 1L)
      }
      fi += 1
    }

    // ---------------- text model (Features.textVectors mirror)
    val nTexts = accTf.size
    val dfMap = mutable.HashMap.empty[Long, Long]
    accTf.valuesIterator.foreach(_.keysIterator.foreach(h =>
      dfMap(h) = dfMap.getOrElse(h, 0L) + 1L))
    def idfOf(h: Long): Double = dfMap.get(h) match {
      case Some(df) => math.log((nTexts + 1).toDouble / (df.toDouble + 1.0)) + 1.0
      case None => math.log((nTexts + 1).toDouble / 1.0) + 1.0
    }
    // account vectors: hash→weight map + norm (hash-sorted fold, matching
    // sort_array over (h, w) structs)
    val accVec = mutable.HashMap.empty[Long, (Map[Long, Double], Double)]
    accTf.foreach { case (acc, tf) =>
      val entries = tf.toSeq.map { case (h, n) =>
        (h, (1.0 + math.log(n.toDouble)) * idfOf(h))
      }.sortBy(_._1)
      var norm = 0.0
      entries.foreach { case (_, w) => norm += w * w }
      accVec(acc) = (entries.toMap, math.sqrt(norm))
    }
    // entity vectors: hash-SORTED entry array (fold order of the Spark dot)
    def entityVector(abstractText: String): (Seq[(Long, Double)], Double) = {
      val tf = mutable.HashMap.empty[Long, Long]
      Text.tokens(abstractText).foreach { t =>
        val h = th(t); tf(h) = tf.getOrElse(h, 0L) + 1L
      }
      val entries = tf.toSeq.map { case (h, n) =>
        (h, (1.0 + math.log(n.toDouble)) * idfOf(h))
      }.sortBy(_._1)
      var norm = 0.0
      entries.foreach { case (_, w) => norm += w * w }
      (entries, math.sqrt(norm))
    }
    def textCos(eEntries: Seq[(Long, Double)], eNorm: Double, acc: Long): Double =
      accVec.get(acc) match {
        case Some((aMap, aNorm)) if eNorm > 0 && aNorm > 0 =>
          var dot = 0.0
          eEntries.foreach { case (h, we) =>
            aMap.get(h).foreach(wa => dot += we * wa)
          }
          dot / (eNorm * aNorm)
        case _ => 0.0
      }

    // ---------------- social graph (Features.socialEdges/sgVectors mirror)
    val kept = edgeFreq.filter(_._2 >= 2)
    val srcSum = mutable.HashMap.empty[Long, Long]
    kept.foreach { case ((s, _), f) => srcSum(s) = srcSum.getOrElse(s, 0L) + f }
    val sgVec = mutable.HashMap.empty[Long, Array[Double]]
    kept.groupBy(_._1._1).foreach { case (src, edges) =>
      val nb = edges.toSeq.map { case ((_, dst), f) =>
        (dst, f.toDouble / srcSum(src).toDouble)
      }.sortBy(_._1) // dst-sorted, matching sort_array(collect_list(...))
      val acc = new Array[Double](CorpusGen.EmbDim)
      var wsum = 0.0
      nb.foreach { case (dst, w) =>
        val v = CorpusGen.accountEmbeddingRow(dst - CorpusGen.AccountIdBase, scale).vec
        var j = 0
        while (j < CorpusGen.EmbDim) { acc(j) = acc(j) + w * v(j); j += 1 }
      }
      nb.foreach { case (_, w) => wsum += w }
      var j = 0
      while (j < CorpusGen.EmbDim) { acc(j) = acc(j) / wsum; j += 1 }
      sgVec(src) = acc
    }
    // VectorKernels.cosine mirror (index-order folds, 0-guard)
    def cosineMirror(a: Seq[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb2 = 0.0
      var i = 0
      while (i < a.length && i < b.length) { dot += a(i) * b(i); i += 1 }
      i = 0
      while (i < a.length) { na += a(i) * a(i); i += 1 }
      i = 0
      while (i < b.length) { nb2 += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb2 == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb2))
    }
    def sgCos(entityIdx: Long, acc: Long): Double = sgVec.get(acc) match {
      case Some(v) => cosineMirror(CorpusGen.entityEmbeddingRow(entityIdx).vec, v)
      case None => 0.0
    }

    // ---------------- dictionary indexes (CandidateGen mirror)
    // name -> list of (accId, freq)
    val dictByName = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
    dict.foreach { case ((name, acc), f) =>
      dictByName.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((acc, f))
    }
    // band key -> distinct dictionary names (J10 blocking index)
    val dictNamesByBand = mutable.HashMap.empty[Long, mutable.ArrayBuffer[String]]
    dictByName.keysIterator.foreach { name =>
      Blocking.bandKeys(name).foreach { bk =>
        dictNamesByBand.getOrElseUpdate(bk, mutable.ArrayBuffer.empty) += name
      }
    }

    // ---------------- candidates (CandidateGen.candidates)
    def rollup(qnames: Seq[String]): Map[Long, Long] = {
      val m = mutable.HashMap.empty[Long, Long]
      qnames.foreach { qn =>
        dictByName.get(qn).foreach(_.foreach { case (acc, f) =>
          m(acc) = m.getOrElse(acc, 0L) + f
        })
      }
      m.toMap
    }

    val allScored = mutable.ArrayBuffer.empty[ScoredCand]
    var ei = 0L
    while (ei < scale.nEntities) {
      if (!CorpusGen.isDead(ei)) {
        val ent = CorpusGen.entityRow(ei)
        val qnames = (ent.names ++ ent.labels).iterator
          .map(Text.normalizeName)
          .flatMap(n => Iterator(n, Text.swapLastFirst(n)))
          .filter(_.length >= 3)
          .toVector.distinct.sorted
        var cands = rollup(qnames)
        if (cands.size > conf.backoffThreshold) {
          // intermediate rung (AllNamesStrategy NAMES_THRESHOLD): top-3
          // names by multiplicity over the swapped-normalized names∪labels,
          // tie-break (count desc, name asc). An empty rung-1 result STOPS
          // the ladder (FillFromIndex's `while result > 300` loop does not
          // retry on empty), mirroring CandidateGen's window rung pick.
          val top3 = (ent.names ++ ent.labels)
            .map(n => Text.swapLastFirst(Text.normalizeName(n)))
            .filter(_.length >= 3)
            .groupBy(identity).toSeq
            .map { case (n, g) => (n, g.size) }
            .sortBy { case (n, c) => (-c, n) }
            .take(3).map(_._1)
          cands = rollup(top3.distinct)
          if (cands.size > conf.backoffThreshold) {
            val primary = Text.swapLastFirst(Text.normalizeName(ent.names.head))
            cands = if (primary.length >= 3) rollup(Seq(primary)) else Map.empty
          }
        }
        // J10 fuzzy long-tail (mirrors CandidateGen: band-key blocking +
        // exact shingle-Jaccard over DISTINCT matched dictionary names)
        if (conf.fuzzyEnabled && cands.isEmpty) {
          val matchedNames = mutable.HashSet.empty[String]
          qnames.foreach { qn =>
            Blocking.bandKeys(qn).foreach { bk =>
              // hot-band cap mirror (Blocking.fuzzyNameMatches bandCap)
              dictNamesByBand.get(bk).filter(_.size <= Blocking.BandCap)
                .foreach(_.foreach { dn =>
                  if (Blocking.jaccardShingles(qn, dn) >= conf.fuzzyThreshold)
                    matchedNames += dn
                })
            }
          }
          val m = mutable.HashMap.empty[Long, Long]
          matchedNames.foreach { dn =>
            dictByName.get(dn).foreach(_.foreach { case (acc, f) =>
              m(acc) = m.getOrElse(acc, 0L) + f
            })
          }
          cands = m.toMap
        }
        val topK = cands.toSeq
          .sortBy { case (acc, f) => (-f, acc) }
          .take(conf.topK)

        // ---------------- scoring (mirrors Scorer.score Column arithmetic)
        val (eEntries, eNorm) = entityVector(ent.abstractText)
        // hashed-token mirror of Scorer's array_distinct over
        // Features.tokenHashesUdf (xxLane = the xxhash64 expression;
        // hashed-then-distinct like the Spark side)
        val absTokSet = Text.tokens(ent.abstractText).distinct
          .map(graft.ops.Dedup.xxLane(0, _)).distinct.toSet
        val homepage = ent.homepage
        val hpCount = if (homepage.isEmpty) 0L else urlCount.getOrElse(homepage, 0L)
        val scored = topK.zipWithIndex.map { case ((acc, freq), cidx) =>
          val a = accById(acc)
          val nameSim = Text.nameSimilarity(ent.names, a.name)
          val tCos = textCos(eEntries, eNorm, acc)
          val dTok = Text.tokens(a.description).distinct
            .map(graft.ops.Dedup.xxLane(0, _)).distinct
          val dOverlap =
            if (dTok.isEmpty) 0.0
            else dTok.count(absTokSet.contains).toDouble / dTok.length.toDouble
          val sCos = sgCos(ei, acc)
          // F12 binaries, same term order as Scorer's Column sum
          val homeMatch = if (homepage.nonEmpty && a.url == homepage) 1.0 else 0.0
          val homeExists = if (homepage.nonEmpty && hpCount >= 1) 1.0 else 0.0
          val homeUnique =
            if (homepage.nonEmpty && a.url == homepage && hpCount == 1) 1.0 else 0.0
          val z = conf.wName * nameSim +
            conf.wText * tCos +
            conf.wDesc * dOverlap +
            conf.wSg * sCos +
            conf.wFollowers * (math.log(a.followers.toDouble + 1.0) / math.log(10.0)) +
            conf.wFreq * (math.log(freq.toDouble + 1.0) / math.log(10.0)) +
            conf.wVerified * (if (a.verified) 1.0 else 0.0) +
            // F6 family: guarded natural logs + followers/friends ratio,
            // same term order as Scorer's Column sum
            conf.wFriends * (if (a.friends > 0) math.log(a.friends.toDouble) else 0.0) +
            conf.wListed * (if (a.listed > 0) math.log(a.listed.toDouble) else 0.0) +
            conf.wStatuses * (if (a.statuses > 0) math.log(a.statuses.toDouble) else 0.0) +
            conf.wFfRatio * (if (a.friends > 0 && a.followers > 0)
              math.log(a.followers.toDouble / a.friends.toDouble) else 0.0) +
            conf.wHomeMatch * homeMatch +
            conf.wHomeExists * homeExists +
            conf.wHomeUnique * homeUnique +
            // F9: continuous capped days-since-last-status (mirror of the
            // least(.. / 86400000.0, 100.0) Column, missing → 100.0)
            conf.wRecency * (if (a.lastStatusAt <= 0) 100.0 else {
              val d = (conf.nowMs - a.lastStatusAt).toDouble / 86400000.0
              if (d < 100.0) d else 100.0
            }) +
            // F11: 0-based candidate order in the (freq desc, acc asc) list
            conf.wOrder * cidx.toDouble +
            conf.bias
          val score = 1.0 / (1.0 + math.exp(-z))
          (acc, a.screenName, freq, score)
        }.sortBy { case (acc, _, _, score) => (-score, acc) }

        scored.zipWithIndex.foreach { case ((acc, sn, freq, score), idx) =>
          val second = if (idx == 0 && scored.length > 1) scored(1)._4 else 0.0
          val isAlign = idx == 0 && (score - second) > conf.margin && score > conf.minScore
          allScored += ScoredCand(ent.id, acc, sn, freq, score, idx + 1, isAlign)
        }
      }
      ei += 1
    }

    // ---------------- canonicalization (union-find over strong edges)
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: String, b: String): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    allScored.foreach { c =>
      if (c.isAlignment && c.score >= conf.strongThreshold)
        union(c.entityId, "web:acc/" + c.screenName)
    }
    // find() returns the component min (unions always keep the smaller
    // root), or the node itself when it never joined an edge — exactly the
    // coalesce(comp, entity) semantics of Canonicalize.representatives.
    def rep(entity: String): String = find(entity)

    // ---------------- triples (mirrors Triples.materialize)
    val triples = mutable.HashSet.empty[Triple]
    allScored.foreach { c =>
      val accIri = "web:acc/" + c.screenName
      val candIri = "kb:candidate/" + c.entityId.replaceFirst("^kb:resource/", "") +
        "/" + c.accountId.toString
      if (c.isAlignment) triples += Triple(c.entityId, "foaf:account", accIri)
      triples += Triple(c.entityId, "owl:sameAs", rep(c.entityId))
      triples += Triple(c.entityId, "sl:candidate", candIri)
      triples += Triple(candIri, "sl:rank", c.rank.toString)
      triples += Triple(candIri, "sl:confidence",
        String.format(java.util.Locale.US, "%.6f", Double.box(c.score)))
      triples += Triple(candIri, "sl:account", accIri)
      triples += Triple(accIri, "dcterms:identifier", c.accountId.toString)
      triples += Triple(accIri, "foaf:accountName", c.screenName)
    }
    (triples.toSet, allScored.toSeq)
  }
}
