package perfbench

/** Sort-and-sweep reference computations for the interval operators,
  * written from the operators' documented semantics (1-based closed
  * intervals, weak overlap `a.start <= b.end && a.end >= b.start`) and
  * sharing no code with the library. Each returns the fingerprint of the
  * expected output rows, fields in the order the checks project. */
object Reference {
  def expected(op: String, t: Intervals, r: Intervals): Fingerprint = op match {
    case "overlap" => overlapPairs(t, r)
    case "count_overlaps" => countOverlaps(t, r)
    case "coverage" => coverage(t, r)
    case "nearest" => nearest(t, r)
    case "subtract" => subtract(r, t)
  }

  /** Every (target, read) pair that overlaps: per contig, targets sorted
    * by start with a running maximum of ends; a read scans back from the
    * last target starting at or before its end until no earlier target
    * can reach its start. */
  def overlapPairs(t: Intervals, r: Intervals): Fingerprint = {
    var fp = Fingerprint.empty
    for (c <- Genome.names.indices) {
      val ti = t.byContig(c)
      val ts = ti.map(t.start); val te = ti.map(t.end)
      val maxEnd = te.scanLeft(Long.MinValue)(math.max).tail
      fp += Fingerprint.of(r.byContig(c).iterator.flatMap { q =>
        val qs = r.start(q); val qe = r.end(q)
        var j = Sorted.upper(ts, qe) - 1
        val out = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        while (j >= 0 && maxEnd(j) >= qs) {
          if (te(j) >= qs) out += Array(ti(j).toLong, ts(j), te(j), q.toLong, qs, qe)
          j -= 1
        }
        out
      })
    }
    fp
  }

  /** Per read: #targets starting at or before its end minus #targets
    * ending before its start. */
  def countOverlaps(t: Intervals, r: Intervals): Fingerprint = {
    var fp = Fingerprint.empty
    for (c <- Genome.names.indices) {
      val ti = t.byContig(c)
      val ts = ti.map(t.start)
      val te = ti.map(t.end).sorted
      fp += Fingerprint.of(r.byContig(c).iterator.map { q =>
        val n = Sorted.upper(ts, r.end(q)) - Sorted.lower(te, r.start(q))
        Array(q.toLong, r.start(q), r.end(q), n.toLong)
      })
    }
    fp
  }

  /** The reference library's `get_coverage`: over the weak-merged target
    * runs overlapping the read, the sum of
    * `max(1, min(qe + 1, runEnd) - max(qs - 1, runStart))`. */
  def coverage(t: Intervals, r: Intervals): Fingerprint = {
    var fp = Fingerprint.empty
    for (c <- Genome.names.indices) {
      val (ms, me) = t.merged(c)
      fp += Fingerprint.of(r.byContig(c).iterator.map { q =>
        val qs = r.start(q); val qe = r.end(q)
        var i = Sorted.lower(me, qs)
        var cov = 0L
        while (i < ms.length && ms(i) <= qe) {
          cov += math.max(1L, math.min(qe + 1, me(i)) - math.max(qs - 1, ms(i)))
          i += 1
        }
        Array(q.toLong, qs, qe, cov)
      })
    }
    fp
  }

  /** k = 1 nearest target per read: the least (distance, start, end, id),
    * distance 0 for an overlap, `qs - end` for a target left of the read
    * and `start - qe` for one right of it. */
  def nearest(t: Intervals, r: Intervals): Fingerprint = {
    var fp = Fingerprint.empty
    for (c <- Genome.names.indices) {
      val byStart = t.byContig(c)
      val ss = byStart.map(t.start); val se = byStart.map(t.end)
      val maxEnd = se.scanLeft(Long.MinValue)(math.max).tail
      // by (end, start, id) for the leftward search
      val byEnd = byStart.sortBy(i => (t.end(i), t.start(i), i))
      val ee = byEnd.map(t.end)
      fp += Fingerprint.of(r.byContig(c).iterator.map { q =>
        val qs = r.start(q); val qe = r.end(q)
        // the first target in (start, end, id) order whose end reaches qs
        val f = Sorted.lower(maxEnd, qs)
        val best: (Int, Long) =
          if (f < ss.length && ss(f) <= qe && se(f) >= qs) (byStart(f), 0L)
          else {
            val li = Sorted.lower(ee, qs) - 1 // last target ending before qs
            val left = if (li >= 0) {
              // the least (start, id) among targets sharing that end
              var k = li
              while (k > 0 && ee(k - 1) == ee(li)) k -= 1
              Some((byEnd(k), qs - ee(li)))
            } else None
            val ri = Sorted.upper(ss, qe) // first target starting after qe
            val right = if (ri < ss.length) Some((byStart(ri), ss(ri) - qe)) else None
            (left, right) match {
              case (Some(a), Some(b)) =>
                val ka = (a._2, t.start(a._1), t.end(a._1), a._1.toLong)
                val kb = (b._2, t.start(b._1), t.end(b._1), b._1.toLong)
                if (Ordering[(Long, Long, Long, Long)].lteq(ka, kb)) a else b
              case (Some(a), None) => a
              case (None, Some(b)) => b
              case _ => throw new IllegalStateException("contig without targets")
            }
          }
        val b = best._1
        Array(b.toLong, t.start(b), t.end(b), q.toLong, qs, qe, best._2)
      })
    }
    fp
  }

  /** Each read fragmented around the weak-merged target runs: a fragment
    * ends at a run's start and resumes at its end. */
  def subtract(r: Intervals, t: Intervals): Fingerprint = {
    var fp = Fingerprint.empty
    for (c <- Genome.names.indices) {
      val (ms, me) = t.merged(c)
      fp += Fingerprint.of(r.byContig(c).iterator.flatMap { q =>
        val ls = r.start(q); val le = r.end(q)
        val out = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        var i = Sorted.lower(me, ls)
        var cursor = ls
        while (i < ms.length && ms(i) <= le) {
          if (ms(i) > cursor) out += Array(q.toLong, cursor, ms(i))
          if (me(i) > cursor) cursor = me(i)
          i += 1
        }
        if (cursor < le) out += Array(q.toLong, cursor, le)
        out
      })
    }
    fp
  }
}
