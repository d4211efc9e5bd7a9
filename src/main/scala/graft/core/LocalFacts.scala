package graft.core

/** [[FactDb.snapshot]] semantics over an in-memory fact list: the
  * driver-side resolver behind reads that are too small to be worth a
  * Spark job — one entity's facts ([[graft.sources.PointRead]]) and a
  * log's schema facts ([[Schema]]).
  *
  * Same rules as the Spark windows, spec-pinned against both
  * [[FactDb.entity]] and the Spark schema derivation: per-value liveness
  * (newest tx wins, a retraction wins a same-tx tie), then
  * cardinality-one newest-per-(e, a) with the value-column desc
  * nulls-last tie-break, and no resolution at all when the db is not
  * `versioned`. */
object LocalFacts {

  /** One collected fact; `vtsMicros` is `vts` as epoch microseconds. */
  final case class Fact(e: Long, a: String, vtype: String, vstr: String,
                        vlong: java.lang.Long, vdbl: java.lang.Double,
                        vtsMicros: java.lang.Long, vref: java.lang.Long,
                        tx: Long, added: Boolean)

  /** The live facts of `all` as of `asOfTx`, with `db`'s cardinality
    * (`cardMany`) and `versioned` flag. */
  def snapshot(all: Seq[Fact], db: FactDb, asOfTx: Long): Seq[Fact] = {
    val bounded = all.filter(_.tx <= asOfTx)
    if (!db.versioned) return bounded
    val live = bounded
      .groupBy(f => (f.e, f.a, f.vtype, f.vstr, f.vlong, f.vdbl, f.vtsMicros, f.vref))
      .values.map { versions =>
        // orderBy(tx desc, added asc): among the newest tx a retraction
        // (added=false) outranks the assertion
        versions.minBy(f => (-f.tx, f.added))
      }
      .filter(_.added).toSeq
    val (one, many) = live.partition(f => !db.cardMany(f.a))
    val resolvedOne = one.groupBy(f => (f.e, f.a)).values.map(_.min(cardOneOrder)).toSeq
    resolvedOne ++ many
  }

  /** Mirror of resolveCardOne's window order: tx desc, then each value
    * slot desc with nulls last. min() under this ordering = row_number 1.
    * Strings compare as UTF-8 BYTES (Spark's UTF8String binary order),
    * not Java UTF-16 code units — the two disagree for
    * supplementary-plane characters, which would flip a same-tx
    * card-one tie against entity(). */
  private val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
    }
  }
  private val cardOneOrder: Ordering[Fact] = new Ordering[Fact] {
    private def descNullsLast[T](x: T, y: T)(implicit ord: Ordering[T]): Int =
      (x == null, y == null) match {
        case (true, true) => 0
        case (true, false) => 1   // null sorts AFTER any value
        case (false, true) => -1
        case (false, false) => ord.compare(y, x) // desc
      }
    def compare(a: Fact, b: Fact): Int = {
      var c = java.lang.Long.compare(b.tx, a.tx) // tx desc
      if (c != 0) return c
      c = descNullsLast(a.vstr, b.vstr)(utf8Order); if (c != 0) return c
      c = descNullsLast(a.vlong, b.vlong)(Ordering.by((l: java.lang.Long) => l.longValue))
      if (c != 0) return c
      c = descNullsLast(a.vdbl, b.vdbl)(Ordering.by((d: java.lang.Double) => d.doubleValue))
      if (c != 0) return c
      c = descNullsLast(a.vtsMicros, b.vtsMicros)(Ordering.by((l: java.lang.Long) => l.longValue))
      if (c != 0) return c
      descNullsLast(a.vref, b.vref)(Ordering.by((l: java.lang.Long) => l.longValue))
    }
  }
}
