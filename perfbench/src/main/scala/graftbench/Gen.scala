package graftbench

import scala.collection.mutable
import scala.util.Random

/** Seeded inputs: the data each workload loads and the operation stream
  * it sends. Everything here is plain Scala, so the same seed gives the
  * same inputs without a Spark session (the determinism self-test
  * relies on that). */
object Gen {

  final case class Scale(customers: Int, orders: Int, users: Int, events: Int,
                         trees: Int, depth: Int, fanout: Int, warmTrees: Int) {
    /** Nodes per tree of the recursion forest. */
    val treeNodes: Int = (0 to depth).map(d => math.pow(fanout, d).toInt).sum
  }

  val Default: Scale = Scale(customers = 1000, orders = 4000, users = 300,
    events = 4000, trees = 200, depth = 3, fanout = 2, warmTrees = 8)
  val Tiny: Scale = Scale(customers = 60, orders = 300, users = 30,
    events = 300, trees = 80, depth = 2, fanout = 2, warmTrees = 4)

  /** One operation: a template name and its drawn parameters. */
  final case class OpSpec(template: String, args: Vector[Any]) {
    def desc: String = template + args.map {
      case s: Seq[_] => s.mkString("[", " ", "]")
      case x => String.valueOf(x)
    }.mkString("(", ",", ")")
  }

  /** Independent stream per purpose, so adding a draw to one stream never
    * shifts another. */
  def rng(seed: Long, purpose: Int): Random = new Random(seed * 1000003L + purpose)

  // ------------------------------------------------------------ star schema

  val Regions: Vector[String] = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations: Int = 25
  val Priorities: Vector[String] =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments: Vector[String] =
    Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Suppliers: Int = 50
  val Parts: Int = 400
  val Documents: Int = 20

  def nationName(n: Int): String = f"NATION_$n%02d"
  def nationRegion(n: Int): Int = n % Regions.size

  private def word(r: Random, n: Int): String =
    Iterator.continually(('a' + r.nextInt(26)).toChar).take(n).mkString

  /** Rows of each star-schema table, column order as in the schemas of [[Sources]]. */
  final case class Star(region: Seq[Seq[Any]], nation: Seq[Seq[Any]],
                        customer: Seq[Seq[Any]], supplier: Seq[Seq[Any]],
                        part: Seq[Seq[Any]], orders: Seq[Seq[Any]],
                        lineitem: Seq[Seq[Any]], documents: Seq[Seq[Any]])

  def star(s: Scale, seed: Long): Star = {
    val r = rng(seed, 1)
    val region = Regions.indices.map(i => Seq[Any](i.toLong, Regions(i)))
    val nation = (0 until Nations).map(n =>
      Seq[Any](n.toLong, nationName(n), nationRegion(n).toLong))
    val customer = (1 to s.customers).map(k => Seq[Any](k.toLong, f"Customer#$k%09d",
      r.nextInt(Nations).toLong, (r.nextInt(1099999) - 99999) / 100.0,
      Segments(r.nextInt(Segments.size))))
    val supplier = (1 to Suppliers).map(k => Seq[Any](k.toLong, f"Supplier#$k%09d",
      r.nextInt(Nations).toLong))
    val part = (1 to Parts).map(k => Seq[Any](k.toLong, word(r, 8)))
    // a third of the customers never order (as in TPC-H), so the
    // negation template has customers on both sides
    val ordering = (1 to s.customers).filter(_ % 3 != 0).toVector
    val orders = (1 to s.orders).map(k => Seq[Any](k.toLong,
      ordering(r.nextInt(ordering.size)).toLong, Seq("F", "O", "P")(r.nextInt(3)),
      (100000 + r.nextInt(49900000)) / 100.0, Priorities(r.nextInt(Priorities.size))))
    // no template reads lineitem; TestData.staticDb melts it, so a few
    // rows keep the table present without dominating the ingest
    val lineitem = (1 to s.orders by 10).flatMap { o =>
      (1 to 1 + r.nextInt(3)).map(ln => Seq[Any](o.toLong, (1 + r.nextInt(Parts)).toLong,
        (1 + r.nextInt(Suppliers)).toLong, ln, (1 + r.nextInt(50)).toDouble))
    }
    val documents = (1 to Documents).map(k => Seq[Any](k.toLong, word(r, 30)))
    Star(region, nation, customer, supplier, part, orders, lineitem, documents)
  }

  // ----------------------------------------------------------------- events

  val TxBase = 100L // graft.core.TestData.TxBase: tx = TxBase + event_id
  val EventTypes: Vector[String] = Vector("view", "click", "purchase", "signup", "error")
  private val eventWeights = Vector(40, 20, 20, 10, 10)

  /** (event_id, user_id, event_type, value, ts_ms). */
  final case class Event(id: Long, user: Long, kind: String, value: Double, tsMs: Long)

  def events(s: Scale, seed: Long): Vector[Event] = {
    val r = rng(seed, 2)
    def kind(): String = {
      var x = r.nextInt(eventWeights.sum)
      var i = 0
      while (x >= eventWeights(i)) { x -= eventWeights(i); i += 1 }
      EventTypes(i)
    }
    (0 until s.events).map(i => Event(i.toLong, r.nextInt(s.users).toLong, kind(),
      r.nextInt(10000) / 100.0, 1700000000000L + i * 1000L)).toVector
  }

  // ----------------------------------------------------------------- forest

  /** Parent index of node `i` within its tree (heap order), -1 for the root. */
  def parentIndex(s: Scale, i: Int): Int = if (i == 0) -1 else (i - 1) / s.fanout
  def nodeDepth(s: Scale, i: Int): Int = if (i == 0) 0 else 1 + nodeDepth(s, parentIndex(s, i))
  /** Raw node key of node `i` of tree `t` (the entity id adds a base). */
  def nodeKey(s: Scale, t: Int, i: Int): Long = t.toLong * s.treeNodes + i

  // ------------------------------------------------------------- op streams

  /** The read templates of `snapshot_reads`, sent in this fixed rotation
    * (parameters are seeded), so every seed sends the same mix. */
  val SnapshotTemplates: Vector[String] = Vector("join_region", "not_priority",
    "agg_edn", "acctbal_range", "asof_last_value", "historical_range",
    "card_many", "pull_nested", "entity_lookup")

  def snapshotOps(s: Scale, seed: Long, purpose: Int): Iterator[OpSpec] = {
    val r = rng(seed, purpose)
    def draw(t: String): OpSpec = t match {
      case "join_region" => OpSpec(t, Vector[Any](Regions(r.nextInt(Regions.size))))
      case "not_priority" => OpSpec(t, Vector[Any](Priorities(r.nextInt(Priorities.size))))
      case "agg_edn" => OpSpec(t, Vector[Any](nationName(r.nextInt(Nations))))
      case "acctbal_range" =>
        val lo = -999 + r.nextInt(10000)
        OpSpec(t, Vector[Any](lo.toDouble, (lo + 250).toDouble))
      case "asof_last_value" =>
        OpSpec(t, Vector[Any](TxBase + s.events / 10 + r.nextInt(s.events - s.events / 10)))
      case "historical_range" =>
        val span = s.events / 20
        val lo = TxBase + r.nextInt(s.events - span)
        OpSpec(t, Vector[Any](lo, lo + span))
      case "card_many" =>
        val span = math.max(4, s.users / 10)
        val lo = r.nextInt(s.users - span).toLong
        OpSpec(t, Vector[Any](lo, lo + span))
      case "pull_nested" =>
        OpSpec(t, Vector[Any](r.shuffle((1 to s.customers).toVector).take(20).map(_.toLong).sorted))
      case "entity_lookup" => OpSpec(t, Vector[Any]((1 + r.nextInt(s.customers)).toLong))
    }
    Iterator.continually(SnapshotTemplates).flatten.map(draw)
  }

  /** `recursive_closure`: each cycle sends every template once in this
    * fixed order, Datalog requests on a fresh tree id (a fixpoint-cache
    * miss), then one repeat of a recent id of `anc` or `odd_even`
    * (alternating), which the cache should answer: a third of the
    * Datalog requests are repeats. GraphOps requests run over the same
    * forest. Warm-up draws only from the last `warmTrees` trees and sends
    * no repeats; the timed stream never uses those trees. */
  val RecursiveTemplates: Vector[String] =
    Vector("anc", "odd_even", "bfs", "transitive_closure", "cc")

  def recursiveOps(s: Scale, seed: Long, warm: Boolean): Iterator[OpSpec] = {
    val r = rng(seed, if (warm) 31 else 30)
    val pool = if (warm) (s.trees - s.warmTrees until s.trees).toVector
      else r.shuffle((0 until s.trees - s.warmTrees).toVector)
    var next = 0
    val recent = mutable.Map.empty[String, Vector[Int]].withDefaultValue(Vector.empty)
    var cycles = 0
    def draw(t: String): OpSpec = t match {
      case "anc" | "odd_even" =>
        val tree = pool(next % pool.size)
        next += 1
        recent(t) = (recent(t) :+ tree).takeRight(4)
        OpSpec(t, Vector[Any](tree, false))
      case "bfs" | "transitive_closure" => OpSpec(t, Vector[Any](pool(r.nextInt(pool.size))))
      case "cc" => OpSpec(t, Vector[Any](r.shuffle(pool).take(3).sorted))
    }
    def repeat(): OpSpec = {
      val t = if (cycles % 2 == 0) "anc" else "odd_even"
      cycles += 1
      OpSpec(t, Vector[Any](recent(t)(r.nextInt(recent(t).size)), true))
    }
    Iterator.continually {
      val ops = RecursiveTemplates.map(draw)
      if (warm) ops else ops :+ repeat()
    }.flatten
  }

  /** `tx_interleaved`: one transaction to every three reads, both in
    * fixed rotations with seeded parameters. Transactions
    * are numbered from 0; transaction k gets tx id `firstTx + k`, so the
    * stream names tx ids without asking the program. New entities are
    * named by their creation index and resolved through the tx report. */
  /** Kinds of the transactions that are not schema declarations, in
    * rotation; every `SchemaEvery`-th transaction (the first included)
    * declares the next card-many attribute. */
  val TxRotation: Vector[String] =
    Vector("tx_new_entity", "tx_card_one", "tx_card_many", "tx_retract")
  val TxReads: Vector[String] = Vector("ryw", "asof_prev", "hist_range", "pull_new")
  val Colors: Vector[String] = Vector("amber", "blue", "green", "red", "violet")
  val SchemaEvery = 12

  def initiallyActive(evs: Seq[Event]): Set[Long] = {
    val active = mutable.Set.empty[Long]
    evs.foreach { e =>
      if (e.kind == "signup") active += e.user
      else if (e.kind == "error") active -= e.user
    }
    active.toSet
  }

  def txOps(s: Scale, seed: Long, evs: Seq[Event]): Iterator[OpSpec] = {
    val r = rng(seed, 40)
    val active = mutable.LinkedHashSet.empty[Long] ++ initiallyActive(evs).toSeq.sorted
    var txCount = 0
    var rotated = 0
    var declared = 0          // tags_0 .. tags_{declared-1} are card-many
    var created = 0           // entities made by tx_new_entity
    val tagged = mutable.ArrayBuffer.empty[Int] // creation indexes carrying tags
    var lastTouched = -1L
    var i = 0
    var reads = 0
    def tx(): OpSpec = {
      val k = txCount
      txCount += 1
      val kind =
        if (k % SchemaEvery == 0) "tx_schema"
        else {
          rotated += 1
          TxRotation((rotated - 1) % TxRotation.size) match {
            case "tx_retract" if active.isEmpty => "tx_card_one"
            case t => t
          }
        }
      kind match {
        case "tx_schema" =>
          declared += 1
          OpSpec(kind, Vector[Any](k, s"tags_${declared - 1}"))
        case "tx_card_one" =>
          val u = r.nextInt(s.users).toLong
          lastTouched = u
          OpSpec(kind, Vector[Any](k, u, (1 + r.nextInt(9999)) / 100.0))
        case "tx_retract" =>
          val u = active.toVector(r.nextInt(active.size))
          active -= u
          lastTouched = u
          OpSpec(kind, Vector[Any](k, u))
        case "tx_card_many" =>
          val u = r.nextInt(s.users).toLong
          lastTouched = u
          OpSpec(kind, Vector[Any](k, u, r.nextInt(100).toLong))
        case "tx_new_entity" =>
          val idx = created
          created += 1
          val tags = r.shuffle(Colors).take(1 + r.nextInt(3)).sorted
          tagged += idx
          OpSpec(kind, Vector[Any](k, idx, s"tags_${declared - 1}", tags))
      }
    }
    def read(): OpSpec = {
      val t = TxReads(reads % TxReads.size)
      reads += 1
      t match {
        case "pull_new" if tagged.nonEmpty =>
          OpSpec(t, Vector[Any](tagged(tagged.size - 1 - r.nextInt(math.min(10, tagged.size)))))
        case "asof_prev" => OpSpec(t, Vector[Any](txCount - 2))
        case "hist_range" => OpSpec(t, Vector[Any](txCount - 9, txCount - 1))
        case _ =>
          val u = if (lastTouched >= 0) lastTouched else r.nextInt(s.users).toLong
          OpSpec("ryw", Vector(u))
      }
    }
    Iterator.continually {
      val op = if (i % 4 == 0) tx() else read()
      i += 1
      op
    }
  }
}
