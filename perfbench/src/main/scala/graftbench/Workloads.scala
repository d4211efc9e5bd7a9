package graftbench

import graft.Graft
import graft.core.{FactDb, FactStore, TestData}
import graft.datalog._
import graft.graph.GraphOps
import graft.sources.{Catalog, FactLogIO}
import graft.transact.Transactor.{Add, MapForm, Retract, TxStmt}
import graftbench.Gen.OpSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** What an operation returned: its kind ("read" or "tx") and a check
  * that compares it with the independent expected answer. The check runs
  * after the op's timer stopped. */
final case class Result(kind: String, check: () => Option[String])

/** A workload set up once: its connection, warm-up and op stream. */
trait Instance {
  /** The connection a transaction probe writes to. */
  def conn: Graft
  def warmup(): Unit
  def ops(): Iterator[OpSpec]
  /** The timed loop stops only after a multiple of this many ops: a
    * whole rotation of the template mix, so every run measures the same
    * mix. */
  def align: Int
  def run(op: OpSpec, st: Steps): Result
  /** A card-one fact the transaction probe may write: (entity, attr, value). */
  def probeFact(i: Int): (Long, String, Long)
}

trait Workload {
  def name: String
  /** Writes the seeded source files under `dir` (input generation; untimed). */
  def prepare(spark: SparkSession, dir: String): Unit
  /** Ingest, layout and connections: the timed set-up. */
  def setup(spark: SparkSession, dir: String, rep: Int): Instance
}

object Workload {
  def apply(name: String, scale: Gen.Scale, seed: Long): Workload = name match {
    case "snapshot_reads" => new SnapshotReads(scale, seed)
    case "recursive_closure" => new RecursiveClosure(scale, seed)
    case "tx_interleaved" => new TxInterleaved(scale, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("snapshot_reads", "recursive_closure", "tx_interleaved")
  /** Warm-up rotations before timing: after one, the next timed rotation
    * still ran about 1.6x slower than later ones (JIT still compiling). */
  val WarmRotations = 2
}

/** Row rendering shared by every check: sorted, order-free, exact. */
object Check {
  def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }
  def rows(rs: Seq[Row]): Vector[String] = rs.map(render).toVector.sorted
  def tuples(ts: Iterable[Seq[Any]]): Vector[String] =
    ts.map(t => t.map(render).mkString("{", ",", "}")).toVector.sorted

  def same(what: String, got: Vector[String], want: Vector[String]): Option[String] =
    if (got == want) None
    else {
      val missing = want.diff(got).take(3)
      val extra = got.diff(want).take(3)
      Some(s"$what: got ${got.size} rows, want ${want.size}; " +
        s"missing ${missing.mkString(" ")}; unexpected ${extra.mkString(" ")}")
    }
}

object Sources {
  private def f(n: String, t: DataType, nullable: Boolean = false) = StructField(n, t, nullable)
  val region = StructType(Seq(f("r_regionkey", LongType), f("r_name", StringType)))
  val nation = StructType(Seq(f("n_nationkey", LongType), f("n_name", StringType),
    f("n_regionkey", LongType)))
  val customer = StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
    f("c_nationkey", LongType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType)))
  val supplier = StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
    f("s_nationkey", LongType)))
  val part = StructType(Seq(f("p_partkey", LongType), f("p_name", StringType)))
  val orders = StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
    f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
    f("o_orderpriority", StringType)))
  val lineitem = StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
    f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType)))
  val documents = StructType(Seq(f("doc_id", LongType), f("doc_text", StringType)))
  val events = StructType(Seq(f("event_id", LongType), f("user_id", LongType),
    f("event_type", StringType), f("value", DoubleType), f("ts", TimestampType)))
  val forest = StructType(Seq(f("node", LongType), f("parent", LongType, nullable = true),
    f("tree", LongType)))

  /** One parquet file per table, `<dir>/<table>.parquet`, the layout
    * graft.core.TestData reads. One file keeps lineitem's row-position
    * entity ids unique. */
  def write(spark: SparkSession, dir: String, table: String, schema: StructType,
            rows: Seq[Seq[Any]]): Unit = {
    val list = new java.util.ArrayList[Row](rows.size)
    rows.foreach(r => list.add(Row.fromSeq(r)))
    spark.createDataFrame(list, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
  }

  def writeEvents(spark: SparkSession, dir: String, evs: Seq[Gen.Event]): Unit =
    write(spark, dir, "events", events, evs.map(e =>
      Seq[Any](e.id, e.user, e.kind, e.value, new java.sql.Timestamp(e.tsMs))))

  def view(spark: SparkSession, dir: String, table: String): Unit =
    spark.read.parquet(s"$dir/$table.parquet").createOrReplaceTempView(table)
}

/** After the timed phase, a fixed stream of card-one transactions on the
  * workload's connection measures `Graft.transact` there. Read-only
  * workloads thus report the transaction metrics without a write ever
  * preceding a timed read, and tx_interleaved gets enough transaction
  * samples for a tail. */
object Probe {
  val Count = 48
}

// ======================================================== snapshot_reads

final class SnapshotReads(scale: Gen.Scale, seed: Long) extends Workload {
  val name = "snapshot_reads"
  private val UB = TestData.UserBase
  private val CB = TestData.CustomerBase
  private val NB = TestData.NationBase

  def prepare(spark: SparkSession, dir: String): Unit = {
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.{Await, Future}
    val s = Gen.star(scale, seed)
    // small independent writes: run them as concurrent Spark jobs
    val writes = Seq(
      () => Sources.write(spark, dir, "region", Sources.region, s.region),
      () => Sources.write(spark, dir, "nation", Sources.nation, s.nation),
      () => Sources.write(spark, dir, "customer", Sources.customer, s.customer),
      () => Sources.write(spark, dir, "supplier", Sources.supplier, s.supplier),
      () => Sources.write(spark, dir, "part", Sources.part, s.part),
      () => Sources.write(spark, dir, "orders", Sources.orders, s.orders),
      () => Sources.write(spark, dir, "lineitem", Sources.lineitem, s.lineitem),
      () => Sources.write(spark, dir, "documents", Sources.documents, s.documents),
      () => Sources.writeEvents(spark, dir, Gen.events(scale, seed)))
    Await.result(Future.sequence(writes.map(w => Future(w()))),
      scala.concurrent.duration.Duration.Inf)
  }

  def setup(spark: SparkSession, dir: String, rep: Int): Instance = {
    // the static dl_* layout: attr-partitioned, hash(e)-bucketed table
    val melted = TestData.staticDb(spark, dir)
    val table = s"graftbench_static_$rep"
    Catalog.recreate(spark, table) {
      FactLogIO.writeBucketedTable(melted, table, buckets = 8, partitionByAttr = true)
    }
    val static = melted.copy(log = spark.table(table)
      .select(FactStore.factSchema.fieldNames.toIndexedSeq.map(col): _*))
    val events = TestData.eventsDb(spark, dir)
    val staticConn = Graft.over(spark, static, 2L, 1L << 40)
    val eventsConn = Graft.over(spark, events, Gen.TxBase + scale.events, 1L << 40)
    new Inst(spark, dir, staticConn, eventsConn)
  }

  private final class Inst(spark: SparkSession, dir: String, static: Graft, events: Graft)
      extends Instance {
    private implicit val s: SparkSession = spark
    private lazy val views: Unit =
      Seq("region", "nation", "customer", "orders", "events").foreach(Sources.view(spark, dir, _))

    def conn: Graft = events
    def ops(): Iterator[OpSpec] = Gen.snapshotOps(scale, seed, 10)
    def align: Int = Gen.SnapshotTemplates.size
    def warmup(): Unit = {
      val st = new Steps(false)
      Gen.snapshotOps(scale, seed, 11).take(Workload.WarmRotations * Gen.SnapshotTemplates.size)
        .foreach(op => run(op, st).check())
    }
    def probeFact(i: Int): (Long, String, Long) =
      (UB + i % scale.users, "probe_mark", i.toLong)

    private def oracle(sql: String): Vector[String] = {
      views
      Check.rows(spark.sql(sql).collect().toSeq)
    }
    private def result(what: String, got: Array[Row], sql: => String) =
      Result("read", () => Check.same(what, Check.rows(got.toSeq), oracle(sql)))

    def run(op: OpSpec, st: Steps): Result = op.template match {
      case "join_region" =>
        val r = op.args(0).asInstanceOf[String]
        val q = Query(find = Seq(FVar("cn"), FVar("nn")), where = And(
          Pattern(V("r"), C("r_name"), C(r)),
          Pattern(V("n"), C("n_regionkey_ref"), V("r")),
          Pattern(V("c"), C("c_nationkey_ref"), V("n")),
          Pattern(V("c"), C("c_name"), V("cn")),
          Pattern(V("n"), C("n_name"), V("nn"))))
        result(op.desc, Api.query(static, Long.MaxValue, false, q, st),
          s"""SELECT DISTINCT c.c_name, n.n_name FROM customer c
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |JOIN region r ON n.n_regionkey = r.r_regionkey WHERE r.r_name = '$r'""".stripMargin)
      case "not_priority" =>
        val p = op.args(0).asInstanceOf[String]
        val q = Query(find = Seq(FVar("cn")), where = And(
          Pattern(V("c"), C("c_name"), V("cn")),
          Not(And(Pattern(V("o"), C("o_custkey_ref"), V("c")),
            Pattern(V("o"), C("o_orderpriority"), C(p))))))
        result(op.desc, Api.query(static, Long.MaxValue, false, q, st),
          s"""SELECT DISTINCT c_name FROM customer c WHERE NOT EXISTS
             |(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
             |AND o.o_orderpriority = '$p')""".stripMargin)
      case "agg_edn" =>
        val n = op.args(0).asInstanceOf[String]
        val text =
          s"""{:find [?st (sum ?p) (count ?p)]
             | :where [[?n :n_name "$n"] [?c :c_nationkey_ref ?n]
             |         [?o :o_custkey_ref ?c] [?o :o_orderstatus ?st]
             |         [?o :o_totalprice ?p]]}""".stripMargin
        result(op.desc, Api.queryText(static, text, st),
          s"""SELECT o.o_orderstatus,
             |CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS DOUBLE), COUNT(*)
             |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |WHERE n.n_name = '$n' GROUP BY o.o_orderstatus""".stripMargin)
      case "acctbal_range" =>
        val lo = op.args(0).asInstanceOf[Double]
        val hi = op.args(1).asInstanceOf[Double]
        val q = Query(find = Seq(FVar("cn"), FVar("b")), where = And(
          Pattern(V("c"), C("c_acctbal"), V("b")),
          Pred("<=", C(lo), V("b")), Pred("<", V("b"), C(hi)),
          Pattern(V("c"), C("c_name"), V("cn"))))
        result(op.desc, Api.query(static, Long.MaxValue, false, q, st),
          s"SELECT DISTINCT c_name, c_acctbal FROM customer WHERE c_acctbal >= $lo AND c_acctbal < $hi")
      case "asof_last_value" =>
        val t = op.args(0).asInstanceOf[Long]
        val q = Query(find = Seq(FVar("u"), FVar("v")),
          where = Pattern(V("u"), C("last_value"), V("v")))
        result(op.desc, Api.query(events.asOf(t), t, false, q, st),
          s"""SELECT user_id + $UB, value FROM (SELECT user_id, value, row_number()
             |OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events
             |WHERE event_id + ${Gen.TxBase} <= $t) WHERE rn = 1""".stripMargin)
      case "historical_range" =>
        val lo = op.args(0).asInstanceOf[Long]
        val hi = op.args(1).asInstanceOf[Long]
        val q = Query(find = Seq(FVar("u"), FVar("t"), FVar("ad")), where = And(
          Pattern(V("u"), C("active"), W, V("t"), V("ad")),
          Pred("<", C(lo), V("t")), Pred("<=", V("t"), C(hi))))
        result(op.desc, Api.query(events.historical, Long.MaxValue, true, q, st),
          s"""SELECT DISTINCT user_id + $UB, event_id + ${Gen.TxBase}, event_type = 'signup'
             |FROM events WHERE event_type IN ('signup', 'error')
             |AND event_id + ${Gen.TxBase} > $lo AND event_id + ${Gen.TxBase} <= $hi""".stripMargin)
      case "card_many" =>
        val lo = op.args(0).asInstanceOf[Long]
        val hi = op.args(1).asInstanceOf[Long]
        val q = Query(find = Seq(FVar("u"), FVar("b")), where = And(
          Pattern(V("u"), C("purchase_bucket"), V("b")),
          Pred("<=", C(UB + lo), V("u")), Pred("<", V("u"), C(UB + hi))))
        result(op.desc, Api.query(events, Long.MaxValue, false, q, st),
          s"""SELECT DISTINCT user_id + $UB, CAST(FLOOR(value) AS BIGINT) FROM events
             |WHERE event_type = 'purchase' AND user_id >= $lo AND user_id < $hi""".stripMargin)
      case "pull_nested" =>
        val keys = op.args(0).asInstanceOf[Seq[Long]]
        val ids = spark.createDataFrame(keys.map(k => Tuple1(CB + k))).toDF("e")
        val spec = Pull.Spec(Seq("c_name", "c_acctbal"), Seq("c_nationkey_ref" ->
          Pull.Spec(Seq("n_name"), Seq("n_regionkey_ref" -> Pull.Spec(Seq("r_name"))))))
        val got = Api.pull(static, Long.MaxValue, ids, spec, st)
        Result("read", () => Check.same(op.desc, Check.rows(got.toSeq), oracle(
          s"""SELECT c.c_custkey + $CB, named_struct('c_name', c.c_name,
             |'c_acctbal', c.c_acctbal, 'n', named_struct('n_name', n.n_name,
             |'r', named_struct('r_name', r.r_name)))
             |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
             |JOIN region r ON n.n_regionkey = r.r_regionkey
             |WHERE c.c_custkey IN (${keys.mkString(",")})""".stripMargin)))
      case "entity_lookup" =>
        val k = op.args(0).asInstanceOf[Long]
        val got = Api.entity(static, CB + k, st)
        val cols = Sources.customer.fieldNames.toSeq
        val pairs = cols.map(c => s"'$c', CAST($c AS STRING)") :+
          s"'c_nationkey_ref', CAST(c_nationkey + $NB AS STRING)"
        Result("read", () => Check.same(op.desc,
          Check.tuples(got.toSeq.map(r => Seq(r.getString(0), r.getString(2)))),
          oracle(s"SELECT stack(${pairs.size}, ${pairs.mkString(", ")}) FROM customer " +
            s"WHERE c_custkey = $k")))
    }
  }
}

// ===================================================== recursive_closure

final class RecursiveClosure(scale: Gen.Scale, seed: Long) extends Workload {
  val name = "recursive_closure"
  val NodeBase = 10000000000L
  private val N = scale.treeNodes
  private val D = scale.depth

  def prepare(spark: SparkSession, dir: String): Unit =
    Sources.write(spark, dir, "forest", Sources.forest,
      for (t <- 0 until scale.trees; i <- 0 until N) yield Seq[Any](Gen.nodeKey(scale, t, i),
        if (i == 0) null else Gen.nodeKey(scale, t, Gen.parentIndex(scale, i)), t.toLong))

  def setup(spark: SparkSession, dir: String, rep: Int): Instance = {
    val df = spark.read.parquet(s"$dir/forest.parquet")
    val log = FactStore.melt(df, col("node"), NodeBase, 1L, Map("parent" -> NodeBase))
      .persist(StorageLevel.MEMORY_AND_DISK)
    log.count()
    val db = FactDb(log, FactStore.attrTypes(df, Set("parent")), versioned = false)
    new Inst(spark, Graft.over(spark, db, 2L, 1L << 40))
  }

  private def e(t: Int, i: Int): Long = NodeBase + Gen.nodeKey(scale, t, i)
  /** (descendant, ancestor, distance) pairs of tree t. */
  private def ancestry(t: Int): Seq[(Long, Long, Int)] =
    for {
      i <- 1 until N
      (a, d) <- Iterator.iterate(Gen.parentIndex(scale, i))(Gen.parentIndex(scale, _))
        .takeWhile(_ >= 0).zipWithIndex
    } yield (e(t, i), e(t, a), d + 1)

  private def parentRule(t: Int): Rule = Rule("parent", Seq(V("px"), V("py")), And(
    Pattern(V("px"), C("parent_ref"), V("py")), Pattern(V("px"), C("tree"), C(t.toLong))))

  def ancQuery(t: Int): Query = Query(
    find = Seq(FVar("x"), FVar("y")), where = RuleApp("anc", V("x"), V("y")),
    rules = Seq(parentRule(t),
      Rule("anc", Seq(V("ax"), V("ay")), RuleApp("parent", V("ax"), V("ay"))),
      Rule("anc", Seq(V("ax"), V("ay")), And(
        RuleApp("parent", V("ax"), V("mid")), RuleApp("anc", V("mid"), V("ay"))))))

  def oddEvenQuery(t: Int): Query = Query(
    find = Seq(FVar("x"), FVar("y")), where = RuleApp("odd", V("x"), V("y")),
    rules = Seq(parentRule(t),
      Rule("odd", Seq(V("ox"), V("oy")), RuleApp("parent", V("ox"), V("oy"))),
      Rule("odd", Seq(V("ox"), V("oy")), And(
        RuleApp("even", V("ox"), V("om")), RuleApp("parent", V("om"), V("oy")))),
      Rule("even", Seq(V("ex"), V("ey")), And(
        RuleApp("odd", V("ex"), V("em")), RuleApp("parent", V("em"), V("ey"))))))

  private final class Inst(spark: SparkSession, val conn: Graft) extends Instance {
    private implicit val s: SparkSession = spark

    def ops(): Iterator[OpSpec] = Gen.recursiveOps(scale, seed, warm = false)
    def align: Int = Gen.RecursiveTemplates.size + 1
    def warmup(): Unit = {
      val st = new Steps(false)
      Gen.recursiveOps(scale, seed, warm = true)
        .take(Workload.WarmRotations * Gen.RecursiveTemplates.size)
        .foreach(op => run(op, st).check())
    }
    def probeFact(i: Int): (Long, String, Long) =
      (e(i % scale.trees, i % N), "probe_mark", i.toLong)

    /** Parent edges (child -> parent) of the given trees. */
    private def treeEdges(trees: Seq[Int])(db: FactDb): DataFrame =
      GraphOps.edges(db).filter(col("label") === "parent_ref" &&
        trees.map(t => col("src").between(e(t, 0), e(t, N - 1))).reduce(_ || _))
        .select(col("src"), col("dst"))

    def run(op: OpSpec, st: Steps): Result = op.template match {
      case "anc" | "odd_even" =>
        val t = op.args(0).asInstanceOf[Int]
        val odd = op.template == "odd_even"
        st.info("datalog") = 1
        st.info("repeat") = if (op.args(1).asInstanceOf[Boolean]) 1 else 0
        st.info("rounds") = D + 1
        val got = Api.query(conn, Long.MaxValue, false,
          if (odd) oddEvenQuery(t) else ancQuery(t), st)
        Result("read", () => Check.same(op.desc, Check.rows(got.toSeq), Check.tuples(
          ancestry(t).filter(p => !odd || p._3 % 2 == 1).map(p => Seq(p._1, p._2)))))
      case "bfs" =>
        val t = op.args(0).asInstanceOf[Int]
        st.info("graph_rounds") = D + 2
        val got = Api.graph(conn, treeEdges(Seq(t)), edges =>
          GraphOps.bfs(edges.select(col("dst").as("src"), col("src").as("dst")),
            Seq(e(t, 0)), maxHops = D + 1), st)
        Result("read", () => Check.same(op.desc, Check.rows(got.toSeq), Check.tuples(
          (0 until N).map(i => Seq(e(t, i), Gen.nodeDepth(scale, i))))))
      case "transitive_closure" =>
        val t = op.args(0).asInstanceOf[Int]
        st.info("graph_rounds") = D + 1
        val got = Api.graph(conn, treeEdges(Seq(t)), GraphOps.transitiveClosure(_), st)
        Result("read", () => Check.same(op.desc, Check.rows(got.toSeq), Check.tuples(
          ancestry(t).map(p => Seq(p._1, p._2)))))
      case "cc" =>
        val ts = op.args(0).asInstanceOf[Seq[Int]]
        val got = Api.graph(conn, treeEdges(ts), GraphOps.ccDataFrame(_), st)
        Result("read", () => Check.same(op.desc, Check.rows(got.toSeq), Check.tuples(
          for (t <- ts; i <- 0 until N) yield Seq(e(t, i), e(t, 0)))))
    }
  }
}

// ======================================================== tx_interleaved

/** One fact of the tx_interleaved model: (e, a, v, tx, added). */
final case class Fact(e: Long, a: String, v: Any, tx: Long, added: Boolean)

final class TxInterleaved(scale: Gen.Scale, seed: Long) extends Workload {
  val name = "tx_interleaved"
  private val UB = TestData.UserBase
  private val firstTx = Gen.TxBase + scale.events
  private lazy val evs = Gen.events(scale, seed)

  def prepare(spark: SparkSession, dir: String): Unit = Sources.writeEvents(spark, dir, evs)

  def setup(spark: SparkSession, dir: String, rep: Int): Instance = {
    val db = TestData.eventsDb(spark, dir)
    new Inst(spark, Graft.over(spark, db, firstTx, 1L << 40),
      Graft.over(spark, db, firstTx, 1L << 40))
  }

  /** The in-memory model of the log the checks compare against: every
    * fact as (e, a, v, tx, added), resolved with the documented rules —
    * newest op per value wins (a retraction wins a same-tx tie),
    * card-one keeps the newest live value, card-many keeps every live
    * value, and schema facts declare card-many as of their tx. */
  final class Model {
    val facts: mutable.ArrayBuffer[Fact] = mutable.ArrayBuffer.empty
    evs.foreach { ev =>
      val (u, tx) = (UB + ev.user, Gen.TxBase + ev.id)
      facts += Fact(u, "last_value", ev.value, tx, true)
      facts += Fact(u, "last_type", ev.kind, tx, true)
      if (ev.kind == "signup" || ev.kind == "error")
        facts += Fact(u, "active", 1L, tx, ev.kind == "signup")
      if (ev.kind == "purchase")
        facts += Fact(u, "purchase_bucket", math.floor(ev.value).toLong, tx, true)
    }

    def cardMany(asOf: Long): Set[String] = {
      val live = facts.filter(f => f.tx <= asOf && f.added)
      val many = live.filter(f => f.a == "unifydb/cardinality" &&
        f.v == "cardinality/many").map(_.e).toSet
      live.filter(f => f.a == "unifydb/schema" && many(f.e)).map(_.v.toString).toSet +
        "purchase_bucket"
    }

    def snapshot(asOf: Long): Seq[Fact] = {
      val many = cardMany(asOf)
      val live = facts.filter(_.tx <= asOf).groupBy(f => (f.e, f.a, f.v)).values
        .map(_.maxBy(f => (f.tx, !f.added))).filter(_.added)
      live.groupBy(f => (f.e, f.a)).values.flatMap { fs =>
        if (many(fs.head.a)) fs else Seq(fs.maxBy(_.tx))
      }.toSeq
    }
  }

  private final class Inst(spark: SparkSession, val conn: Graft, warmConn: Graft)
      extends Instance {
    private implicit val s: SparkSession = spark
    private val model = new Model
    private val created = mutable.Map.empty[Int, Long]
    private val tagAttr = mutable.Map.empty[Int, String]

    def ops(): Iterator[OpSpec] = Gen.txOps(scale, seed, evs)
    def align: Int = 4
    def probeFact(i: Int): (Long, String, Long) = (UB + i % scale.users, "probe_mark", i.toLong)

    /** Reads on the base log and transactions on a second connection, so
      * the measured connection's log is untouched. */
    def warmup(): Unit = {
      val st = new Steps(false)
      (1 to Workload.WarmRotations).foreach { i =>
        warmConn.transact(Seq(Add(UB + i, "last_value", i.toDouble)))
        Api.query(warmConn, Long.MaxValue, false, lastValues, st)
        Api.query(warmConn.asOf(firstTx - i), firstTx - i, false, lastValues, st)
        Api.query(warmConn.historical, Long.MaxValue, true,
          range(firstTx - 8 - i, firstTx - i), st)
      }
    }

    private val lastValues = Query(find = Seq(FVar("u"), FVar("v")),
      where = Pattern(V("u"), C("last_value"), V("v")))
    private def range(lo: Long, hi: Long) = Query(
      find = Seq(FVar("u"), FVar("v"), FVar("t"), FVar("ad")), where = And(
        Pattern(V("u"), C("last_value"), V("v"), V("t"), V("ad")),
        Pred("<", C(lo), V("t")), Pred("<=", V("t"), C(hi))))

    /** Values as graft renders an untyped `[?e ?a ?v]` value. */
    private def asString(v: Any): String = v match {
      case d: Double => java.lang.Double.toString(d)
      case x => x.toString
    }

    private def tx(op: OpSpec, stmts: Seq[TxStmt], st: Steps,
                   facts: Map[String, Long] => Seq[Fact]): Result = {
      val k = op.args(0).asInstanceOf[Int]
      val report = st.step("transact")(conn.transact(stmts))
      st.info("facts") = report.facts.size
      Result("tx", () => {
        model.facts ++= facts(report.tempIds)
        if (report.txId != firstTx + k) Some(s"${op.desc}: tx id ${report.txId}, want ${firstTx + k}")
        else None
      })
    }

    def run(op: OpSpec, st: Steps): Result = {
      def txOf(k: Int) = firstTx + k
      op.template match {
        case "tx_schema" =>
          val k = op.args(0).asInstanceOf[Int]
          val attr = op.args(1).asInstanceOf[String]
          tx(op, Seq(MapForm(Seq("unifydb/schema" -> attr,
            "unifydb/cardinality" -> "cardinality/many"), Some("schema"))), st, ids => Seq(
            Fact(ids("schema"), "unifydb/schema", attr, txOf(k), true),
            Fact(ids("schema"), "unifydb/cardinality", "cardinality/many", txOf(k), true)))
        case "tx_card_one" =>
          val Vector(k: Int, u: Long, v: Double) = op.args
          tx(op, Seq(Add(UB + u, "last_value", v)), st,
            _ => Seq(Fact(UB + u, "last_value", v, txOf(k), true)))
        case "tx_retract" =>
          val Vector(k: Int, u: Long) = op.args
          tx(op, Seq(Retract(UB + u, "active", 1L)), st,
            _ => Seq(Fact(UB + u, "active", 1L, txOf(k), false)))
        case "tx_card_many" =>
          val Vector(k: Int, u: Long, b: Long) = op.args
          tx(op, Seq(Add(UB + u, "purchase_bucket", b)), st,
            _ => Seq(Fact(UB + u, "purchase_bucket", b, txOf(k), true)))
        case "tx_new_entity" =>
          val k = op.args(0).asInstanceOf[Int]
          val idx = op.args(1).asInstanceOf[Int]
          val attr = op.args(2).asInstanceOf[String]
          val tags = op.args(3).asInstanceOf[Seq[String]]
          val (item, owner) = (s"item-$idx", s"owner-$idx")
          tx(op, Seq(MapForm(Seq("name" -> item,
            "owner" -> MapForm(Seq("label" -> owner), Some(owner))) ++ tags.map(attr -> _),
            Some(item))), st, { ids =>
            created(idx) = ids(item)
            tagAttr(idx) = attr
            Seq(Fact(ids(item), "name", item, txOf(k), true),
              Fact(ids(item), "owner", ids(owner), txOf(k), true),
              Fact(ids(owner), "label", owner, txOf(k), true)) ++
              tags.map(t => Fact(ids(item), attr, t, txOf(k), true))
          })
        case "ryw" =>
          val u = UB + op.args(0).asInstanceOf[Long]
          val got = Api.query(conn, Long.MaxValue, false, Query(
            find = Seq(FVar("a"), FVar("v")), where = Pattern(C(u), V("a"), V("v"))), st)
          Result("read", () => Check.same(op.desc, Check.rows(got.toSeq), Check.tuples(
            model.snapshot(Long.MaxValue).filter(_.e == u).map(f => Seq(f.a, asString(f.v))))))
        case "asof_prev" =>
          val t = txOf(op.args(0).asInstanceOf[Int])
          val got = Api.query(conn.asOf(t), t, false, lastValues, st)
          Result("read", () => Check.same(op.desc, Check.rows(got.toSeq), Check.tuples(
            model.snapshot(t).filter(_.a == "last_value").map(f => Seq(f.e, f.v)))))
        case "hist_range" =>
          val lo = txOf(op.args(0).asInstanceOf[Int])
          val hi = txOf(op.args(1).asInstanceOf[Int])
          val got = Api.query(conn.historical, Long.MaxValue, true, range(lo, hi), st)
          Result("read", () => Check.same(op.desc, Check.rows(got.toSeq), Check.tuples(
            model.facts.filter(f => f.a == "last_value" && f.tx > lo && f.tx <= hi)
              .map(f => Seq(f.e, f.v, f.tx, f.added)).distinct)))
        case "pull_new" =>
          val idx = op.args(0).asInstanceOf[Int]
          val id = created(idx)
          val attr = tagAttr(idx)
          val got = Api.pull(conn, Long.MaxValue,
            spark.createDataFrame(Seq(Tuple1(id))).toDF("e"),
            Pull.Spec(Seq("name", attr), Seq("owner" -> Pull.Spec(Seq("label")))), st)
          Result("read", () => {
            val snap = model.snapshot(Long.MaxValue)
            def vals(e: Long, a: String) = snap.filter(f => f.e == e && f.a == a).map(_.v)
            val owner = vals(id, "owner").head.asInstanceOf[Long]
            Check.same(op.desc, Check.rows(got.toSeq), Check.tuples(Seq(Seq(id,
              Row(vals(id, "name").head, vals(id, attr).map(_.toString).sorted,
                Row(vals(owner, "label").head))))))
          })
      }
    }
  }
}
