package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.json4s.{JArray, JBool, JNull, JString, JValue}
import org.json4s.jackson.JsonMethods

/** `sql_gateway`: a closed loop of HTTP clients against
  * `GraftRestServer`, the Kyuubi REST path. Tables are named `graft_cat`
  * tables (orders and lineitem partitioned) with one registered rollup
  * on orders. Each statement is timed from POST through the drained
  * rowset to the operation's close, and its result must hash equal to
  * the same SQL over plain parquet views (so MV-routed answers must
  * equal unrouted ones).
  */
object SqlGateway extends Workload {
  val clients = 2
  val warmSeconds = 3.0
  val dims = Seq("region", "nation", "customer", "supplier", "part")
  val facts = Seq("orders", "lineitem")
  val tables: Seq[String] = dims ++ facts
  val partitionBy = Map("orders" -> "o_orderpriority", "lineitem" -> "l_returnflag")
  val mvDims = Seq("o_orderpriority", "o_orderstatus")

  final case class Stmt(family: String, sql: String) {
    /** `{orders}` etc. become catalog names (dimensions in namespace `d`,
      * facts in `factNs`), or `ref_orders` views over the parquet inputs.
      */
    def render(factNs: Option[String]): String = tables.foldLeft(sql) { (s, t) =>
      s.replace(s"{$t}", factNs.fold(s"ref_$t")(n => s"graft_cat.${if (facts.contains(t)) n else "d"}.$t"))
    }
  }

  private def d(r: SplittableRandom, y0: Int, y1: Int): String =
    f"${y0 + r.nextInt(y1 - y0 + 1)}%04d-${1 + r.nextInt(12)}%02d-01"
  private def ts(day: String) = s"TIMESTAMP '$day 00:00:00'"
  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private val rev = "round(sum(l_extendedprice*(1-l_discount)) + 0.000001, 2)"

  /** The 22 TPC-H query shapes over the project's simplified schema,
    * each with parameters drawn from the client's seeded stream.
    */
  val tpch: Vector[SplittableRandom => String] = Vector(
    r => s"""SELECT l_returnflag, l_linestatus, round(sum(l_quantity) + 0.000001, 2) AS sum_qty,
       |round(sum(l_extendedprice) + 0.000001, 2) AS sum_base, $rev AS sum_disc,
       |round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)) + 0.000001, 2) AS sum_charge,
       |round(avg(l_quantity) + 0.000001, 2) AS avg_qty, count(*) AS count_order
       |FROM {lineitem} WHERE l_shipdate <= ${ts(d(r, 1997, 2000))}
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    r => s"""WITH ps AS (SELECT l_partkey AS pk, l_suppkey AS sk, min(l_extendedprice / l_quantity) AS cost
       |  FROM {lineitem} GROUP BY 1, 2), best AS (SELECT pk, min(cost) AS mc FROM ps GROUP BY 1)
       |SELECT p_partkey, p_brand, s_name, round(cost + 1e-9, 2) AS min_cost
       |FROM ps JOIN best ON ps.pk = best.pk AND ps.cost = best.mc
       |JOIN {part} ON ps.pk = p_partkey AND p_size = ${1 + r.nextInt(50)}
       |JOIN {supplier} ON ps.sk = s_suppkey""".stripMargin,
    r => s"""SELECT l_orderkey, o_orderdate, o_orderpriority, $rev AS revenue
       |FROM {customer}, {orders}, {lineitem}
       |WHERE c_mktsegment = '${pick(r, Gen.segments)}' AND c_custkey = o_custkey
       |AND l_orderkey = o_orderkey AND o_orderdate < ${ts(d(r, 1996, 1999))}
       |AND l_shipdate > ${ts(d(r, 1996, 1999))}
       |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    r => { val a = d(r, 1995, 2000)
      s"""SELECT o_orderpriority, count(*) AS order_count FROM {orders}
       |WHERE o_orderdate >= ${ts(a)} AND o_orderdate < ${ts(a)} + INTERVAL 3 MONTH
       |AND EXISTS (SELECT 1 FROM {lineitem} WHERE l_orderkey = o_orderkey
       |  AND l_shipdate > o_orderdate + INTERVAL ${10 + r.nextInt(50)} DAY)
       |GROUP BY 1 ORDER BY 1""".stripMargin },
    r => { val y = 1995 + r.nextInt(5)
      s"""SELECT n_name, $rev AS revenue
       |FROM {customer}, {orders}, {lineitem}, {supplier}, {nation}, {region}
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
       |AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |AND r_name = '${pick(r, Gen.regions)}' AND o_orderdate >= ${ts(s"$y-01-01")}
       |AND o_orderdate < ${ts(s"${y + 2}-01-01")} GROUP BY 1""".stripMargin },
    r => { val y = 1995 + r.nextInt(6); val disc = 2 + r.nextInt(7)
      s"""SELECT round(sum(l_extendedprice * l_discount) + 0.000001, 2) AS revenue FROM {lineitem}
       |WHERE l_shipdate >= ${ts(s"$y-01-01")} AND l_shipdate < ${ts(s"${y + 1}-01-01")}
       |AND l_discount BETWEEN ${(disc - 1) / 100.0} AND ${(disc + 1) / 100.0}
       |AND l_quantity < ${24 + r.nextInt(2)}""".stripMargin },
    r => { val a = r.nextInt(25); val b = (a + 1 + r.nextInt(24)) % 25
      s"""SELECT s_nationkey AS supp_nat, c_nationkey AS cust_nat, year(l_shipdate) AS l_year,
       |$rev AS revenue FROM {supplier}, {lineitem}, {orders}, {customer}
       |WHERE s_suppkey = l_suppkey AND l_orderkey = o_orderkey AND o_custkey = c_custkey
       |AND ((s_nationkey = $a AND c_nationkey = $b) OR (s_nationkey = $b AND c_nationkey = $a))
       |GROUP BY 1, 2, 3""".stripMargin },
    r => s"""SELECT year(o_orderdate) AS o_year,
       |round(sum(CASE WHEN s_nationkey = ${r.nextInt(25)} THEN l_extendedprice*(1-l_discount) ELSE 0 END) /
       |  sum(l_extendedprice*(1-l_discount)) + 1e-9, 4) AS mkt_share
       |FROM {lineitem}, {part}, {supplier}, {orders}, {customer}, {nation}
       |WHERE l_partkey = p_partkey AND p_type = '${pick(r, Gen.ptypes)}'
       |AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
       |AND o_custkey = c_custkey AND c_nationkey = n_nationkey
       |AND n_regionkey = ${r.nextInt(5)} GROUP BY 1""".stripMargin,
    r => s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
       |round(sum(l_extendedprice*(1-l_discount) - 0.6*p_retailprice*l_quantity) + 0.000001, 2) AS sum_profit
       |FROM {lineitem} JOIN {part} ON l_partkey = p_partkey AND p_name LIKE '${pick(r, Gen.colors)}%'
       |JOIN {supplier} ON l_suppkey = s_suppkey JOIN {nation} ON s_nationkey = n_nationkey
       |JOIN {orders} ON l_orderkey = o_orderkey GROUP BY 1, 2""".stripMargin,
    r => { val a = d(r, 1995, 2000)
      s"""SELECT c_custkey, c_name, n_name, $rev AS revenue, round(max(c_acctbal), 2) AS acctbal
       |FROM {customer}, {orders}, {lineitem}, {nation}
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |AND o_orderdate >= ${ts(a)} AND o_orderdate < ${ts(a)} + INTERVAL 3 MONTH
       |AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin },
    r => s"""WITH v AS (SELECT l_partkey, sum(l_extendedprice * l_quantity) AS value
       |  FROM {lineitem} JOIN {supplier} ON l_suppkey = s_suppkey
       |  WHERE s_nationkey = ${r.nextInt(25)} GROUP BY 1)
       |SELECT l_partkey AS ps_partkey, round(value + 0.000001, 2) AS value FROM v
       |WHERE value > (SELECT sum(value) * 0.00${1 + r.nextInt(5)} FROM v)""".stripMargin,
    r => { val fl = pick(r, Seq("'A', 'N'", "'N', 'R'", "'A', 'R'"))
      s"""SELECT l_returnflag,
       |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM {orders} JOIN {lineitem} ON o_orderkey = l_orderkey
       |WHERE l_returnflag IN ($fl) AND l_shipdate > o_orderdate + INTERVAL ${30 + r.nextInt(60)} DAY
       |GROUP BY 1""".stripMargin },
    r => s"""SELECT c_count, count(*) AS custdist FROM (
       |  SELECT c_custkey, count(o_orderkey) AS c_count
       |  FROM {customer} LEFT OUTER JOIN {orders}
       |    ON c_custkey = o_custkey AND o_orderpriority <> '${pick(r, Gen.priorities)}'
       |  GROUP BY c_custkey) GROUP BY 1""".stripMargin,
    r => { val a = d(r, 1995, 2000)
      s"""SELECT round(100.0 * sum(CASE WHEN p_type = '${pick(r, Gen.ptypes)}'
       |  THEN l_extendedprice*(1-l_discount) ELSE 0 END) /
       |  sum(l_extendedprice*(1-l_discount)) + 1e-9, 4) AS promo_revenue
       |FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
       |WHERE l_shipdate >= ${ts(a)} AND l_shipdate < ${ts(a)} + INTERVAL 2 MONTH""".stripMargin },
    r => { val a = d(r, 1995, 2000)
      s"""WITH revenue AS (SELECT l_suppkey AS supplier_no, $rev AS total_revenue FROM {lineitem}
       |  WHERE l_shipdate >= ${ts(a)} AND l_shipdate < ${ts(a)} + INTERVAL 3 MONTH GROUP BY 1)
       |SELECT s_suppkey, s_name, total_revenue FROM {supplier} JOIN revenue ON s_suppkey = supplier_no
       |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin },
    r => { val sizes = Seq.fill(8)(1 + r.nextInt(50)).distinct.mkString(",")
      s"""SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       |FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
       |WHERE p_brand <> 'Brand#${1 + r.nextInt(25)}' AND p_size IN ($sizes)
       |AND l_suppkey NOT IN (SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0)
       |GROUP BY 1, 2, 3""".stripMargin },
    r => s"""WITH stats AS (SELECT l_partkey AS ap, count(*) AS cnt, sum(l_quantity) AS qsum
       |  FROM {lineitem} GROUP BY 1)
       |SELECT round(sum(l_extendedprice) / 7.0 + 0.000001, 2) AS avg_yearly
       |FROM {lineitem} JOIN {part} ON l_partkey = p_partkey JOIN stats ON l_partkey = ap
       |WHERE p_brand = 'Brand#${1 + r.nextInt(25)}' AND l_quantity * 5 * cnt < qsum""".stripMargin,
    r => s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum(l_quantity) AS total_qty
       |FROM {customer} JOIN {orders} ON c_custkey = o_custkey JOIN {lineitem} ON o_orderkey = l_orderkey
       |GROUP BY 1, 2, 3, 4, 5 HAVING sum(l_quantity) > ${150 + r.nextInt(100)}
       |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin,
    r => { val b = Seq.fill(3)(1 + r.nextInt(25))
      s"""SELECT round(sum(l_extendedprice*(1-l_discount)) + 0.000001, 2) AS revenue, count(*) AS n_lines
       |FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#${b(0)}' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
       |   OR (p_brand = 'Brand#${b(1)}' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
       |   OR (p_brand = 'Brand#${b(2)}' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)""".stripMargin },
    r => { val y = 1995 + r.nextInt(6)
      s"""SELECT s_name, s_nationkey FROM {supplier} WHERE s_suppkey IN (
       |  SELECT l_suppkey FROM {lineitem}
       |  WHERE l_partkey IN (SELECT p_partkey FROM {part} WHERE p_name LIKE '${pick(r, Gen.colors)}%')
       |  AND l_shipdate >= ${ts(s"$y-01-01")} AND l_shipdate < ${ts(s"${y + 1}-01-01")}
       |  GROUP BY 1 HAVING sum(l_quantity) > ${20 + r.nextInt(60)})
       |AND s_nationkey < ${5 + r.nextInt(20)}""".stripMargin },
    r => { val days = 40 + r.nextInt(60)
      s"""SELECT s_name, count(*) AS numwait FROM {supplier}, {lineitem} l1, {orders}
       |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
       |AND l1.l_shipdate > o_orderdate + INTERVAL $days DAY
       |AND EXISTS (SELECT 1 FROM {lineitem} l2 WHERE l2.l_orderkey = l1.l_orderkey
       |  AND l2.l_suppkey <> l1.l_suppkey)
       |AND NOT EXISTS (SELECT 1 FROM {lineitem} l3 WHERE l3.l_orderkey = l1.l_orderkey
       |  AND l3.l_suppkey <> l1.l_suppkey AND l3.l_shipdate > o_orderdate + INTERVAL $days DAY)
       |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin },
    r => { val codes = Seq.fill(5)(f"${r.nextInt(100)}%02d").distinct.map(c => s"'$c'").mkString(",")
      s"""WITH cust AS (SELECT c_custkey, c_acctbal, substring(c_name, 17, 2) AS cntrycode
       |  FROM {customer} WHERE substring(c_name, 17, 2) IN ($codes))
       |SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal) + 0.000001, 2) AS totacctbal
       |FROM cust WHERE c_acctbal > (SELECT avg(c_acctbal) FROM cust WHERE c_acctbal > 0)
       |AND c_custkey NOT IN (SELECT o_custkey FROM {orders}) GROUP BY 1""".stripMargin })

  /** Aggregates the registered orders rollup can answer (bare scan, dims ⊆ rollup dims). */
  def rollup(r: SplittableRandom): String = {
    val dims = pick(r, Seq(Seq("o_orderpriority"), Seq("o_orderstatus"), mvDims))
    val aggs = pick(r, Seq(
      "count(*) AS cnt, round(sum(o_totalprice), 2) AS rev",
      "round(max(o_totalprice), 2) AS top, round(min(o_totalprice), 2) AS bottom",
      "count(*) AS cnt, round(sum(o_totalprice), 2) AS rev, round(max(o_totalprice), 2) AS top"))
    s"SELECT ${dims.mkString(", ")}, $aggs FROM {orders} GROUP BY ${dims.mkString(", ")}"
  }

  /** Each client's round of statement families, repeated: 6 TPC-H shapes
    * (the same 6 in every round), 2 point lookups, 1 rollup aggregate, 1
    * top-k per group. A measured window holds whole rounds only, so every
    * run's window holds the same mix however fast the host is; the seed
    * draws the parameters. The slower families are the majority, so the
    * median lies inside them rather than on the edge between fast and slow.
    */
  val families: Vector[String] =
    Vector("tpch", "point", "tpch", "rollup", "tpch", "tpch", "topk", "tpch", "point", "tpch")

  /** A point lookup of one of the `orders` order keys. */
  def point(r: SplittableRandom, orders: Int): Stmt = {
    val k = r.nextInt(orders)
    if (r.nextBoolean()) Stmt("point", s"SELECT * FROM {orders} WHERE o_orderkey = $k")
    else Stmt("point", s"SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM {lineitem} WHERE l_orderkey = $k")
  }
  def topk(r: SplittableRandom): Stmt = Stmt("topk", s"""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
       |  SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (
       |    PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
       |  FROM {orders} WHERE o_orderdate >= ${ts(d(r, 1995, 2000))}) WHERE rn <= ${1 + r.nextInt(10)}""".stripMargin)
  /** The k-th TPC-H shape of client `c`: the clients start half the list apart. */
  def tpchStmt(r: SplittableRandom, c: Int, k: Int): Stmt = {
    val i = (c * tpch.size / 2 + k) % tpch.size
    Stmt(f"tpch_q${i + 1}%02d", tpch(i)(r))
  }

  /** Statement `i` of client `c`, over a table of `orders` orders. */
  def draw(r: SplittableRandom, c: Int, i: Int, orders: Int): Stmt = families(i % families.size) match {
    case "tpch" => tpchStmt(r, c, families.take(i % families.size).count(_ == "tpch"))
    case "point" => point(r, orders)
    case "rollup" => Stmt("rollup", rollup(r))
    case _ => topk(r)
  }

  // ---- result hashing (the REST server renders cells with String.valueOf) ----

  def cellText(v: Any): String = v match {
    case null => "\u0000null"
    case b: Array[Byte] => new String(b, UTF_8)
    case s: scala.collection.Seq[_] => s.map(cellText).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${cellText(k)}:${cellText(x)}" }.mkString("{", ",", "}")
    case other => String.valueOf(other)
  }
  def digest(rows: Iterable[Seq[String]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.mkString("\u0001")).toSeq.sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update(2.toByte) }
    md.digest().map(b => f"$b%02x").mkString + s"/${rows.size}"
  }
  def digestDf(df: DataFrame): String = digest(df.collect().toSeq.map(r => r.toSeq.map(cellText)))

  // ---- REST client ----------------------------------------------------

  final class Client(port: Int, user: String, token: String) {
    private val http = HttpClient.newHttpClient()
    private val auth = "Basic " + java.util.Base64.getEncoder.encodeToString(s"$user:$token".getBytes(UTF_8))
    private def call(method: String, path: String, body: String = ""): JValue = {
      val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/api/v1$path"))
        .header("Authorization", auth).header("Content-Type", "application/json")
        .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
          else HttpRequest.BodyPublishers.ofString(body))
      val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode != 200) sys.error(s"HTTP ${resp.statusCode} $method $path: ${resp.body.take(300)}")
      JsonMethods.parse(resp.body)
    }
    private def str(v: JValue, k: String): String = v \ k match {
      case JString(s) => s
      case other => sys.error(s"no $k in $v")
    }
    val session: String = str(call("POST", "/sessions", "{}"), "identifier")

    /** Executes, drains and closes one statement; returns its result digest. */
    def run(sql: String, req: String): String = {
      val op = Rec.span("gateway.execute", req) {
        str(call("POST", s"/sessions/$session/operations/statement", s"""{"statement":${Rec.json(sql)}}"""),
          "identifier")
      }
      val rows = Rec.span("gateway.fetch", req) {
        val ev = call("GET", s"/operations/$op/event")
        if (str(ev, "state") != "FINISHED") sys.error(s"statement failed: ${ev \ "exception"}")
        val buf = Seq.newBuilder[Seq[String]]
        var more = true
        while (more) {
          val page = call("GET", s"/operations/$op/rowset?maxrows=1000")
          page \ "rows" match {
            case JArray(rs) => rs.foreach {
              case JArray(cells) => buf += cells.map { case JString(s) => s; case JNull => "\u0000null"; case c => c.toString }
              case other => sys.error(s"bad row $other")
            }
            case other => sys.error(s"bad rowset $other")
          }
          more = page \ "hasMoreRows" match { case JBool(b) => b; case _ => false }
        }
        buf.result()
      }
      Rec.span("gateway.close", req)(call("DELETE", s"/operations/$op"))
      digest(rows)
    }
    def close(): Unit = call("DELETE", s"/sessions/$session")
  }

  // ---- staging ----------------------------------------------------------

  /** Where the filesystem catalog store keeps table `ns.t`. */
  def tablePath(ns: String, t: String): String = s"${graft.GraftSession.catalogRoot}/$ns/$t"

  /** Named catalog tables `ts` of `dir` in namespace `ns`, created concurrently. */
  def stage(spark: SparkSession, dir: String, ns: String, ts: Seq[String]): Unit = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft_cat.$ns")
    Main.parMap(ts, ts.size) { t =>
      graft.Tables(spark, dir, t).createOrReplaceTempView(s"src_${ns}_$t")
      val part = partitionBy.get(t).fold("")(c => s"PARTITIONED BY ($c) ")
      spark.sql(s"CREATE TABLE graft_cat.$ns.$t ${part}AS SELECT * FROM src_${ns}_$t")
    }
  }

  /** The timed set-up: the partitioned fact tables and the rollup registration. */
  def stageFacts(spark: SparkSession, ctx: Ctx, dir: String, ns: String): Unit = {
    stage(spark, dir, ns, facts)
    graft.sources.Rollup.createAndRegister(spark, tablePath(ns, "orders"),
      s"${ctx.work}/mv/$ns", mvDims, Seq("o_totalprice"))
  }

  /** What the measured loop saw: result digests and REST times per statement text. */
  final class Seen {
    val results = new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]
    val restTimes = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]
    val familyOf = new ConcurrentHashMap[String, String]
  }

  /** The closed loop of `clients` REST clients over fact namespace `ns`
    * (of `orders` orders) for `seconds`; when `seen` is given, each client
    * runs on to the end of its round of `families`, and each statement is
    * timed and recorded.
    */
  def closedLoop(port: Int, ns: String, orders: Int, seed: Long, seconds: Double, seen: Option[Seen]): Unit = {
    val end = Rec.now() + seconds
    Main.parallel(clients) { c =>
      val cl = new Client(port, s"bench$c", s"t$c")
      val r = new SplittableRandom(seed * 31 + c)
      var i = 0
      while (Rec.now() < end || (seen.isDefined && i % families.size != 0)) {
        val s = draw(r, c, i, orders)
        val text = s.render(Some(ns))
        val req = s"c$c-$i"
        seen match {
          case None => cl.run(text, req)
          case Some(sn) =>
            sn.familyOf.put(text, s.family)
            Rec.op(s"sql.${s.family}", 1.0) {
              val t0 = Rec.now()
              val h = Rec.span("gateway.statement", req)(cl.run(text, req))
              sn.restTimes.computeIfAbsent(text, _ => new ConcurrentLinkedQueue[Double]).add(Rec.now() - t0)
              sn.results.computeIfAbsent(s.sql + "\u0000" + text, _ => new ConcurrentLinkedQueue[String]).add(h)
              true
            }
        }
        i += 1
      }
      cl.close()
    }
  }

  def run(spark: SparkSession, ctx: Ctx): Map[String, Any] = {
    val real = ctx.data("real"); val warm = ctx.data("warm")
    tables.foreach(t => graft.Tables(spark, real, t).createOrReplaceTempView(s"ref_$t"))
    // The warm-up facts are generated at the same size.
    val orders = spark.table("ref_orders").count().toInt

    val url = "jdbc:derby:memory:perfbench;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    try {
      val st = c0.createStatement()
      st.execute("CREATE TABLE gateway_users(user_name VARCHAR(64), token VARCHAR(64))")
      (0 until clients).foreach(i => st.execute(s"INSERT INTO gateway_users VALUES ('bench$i', 't$i')"))
    } finally c0.close()
    graft.ConnectAuth.enable(url, "SELECT 1 FROM gateway_users WHERE user_name = ? AND token = ?",
      maxConcurrentPerUser = 2)
    graft.GraftAudit.enable(url)
    graft.GraftRestServer.start(spark, 0)
    val port = graft.GraftRestServer.boundPort.get
    try {
      // Warm-up: the same closed loop on seed-distinct fact tables, so JIT
      // and codegen are warm while the measured tables' state stays cold.
      // The dimensions and the warm-up facts are staged concurrently.
      Main.parMap(Seq(() => stage(spark, real, "d", dims), () => stageFacts(spark, ctx, warm, "w")), 2)(_())
      closedLoop(port, "w", orders, ctx.warmSeed, warmSeconds, None)
      Rec.phase("warm")
      Main.setupReps(3)(i => stageFacts(spark, ctx, real, s"s$i"))
      val ns = "s2"

      val seen = new Seen
      val w0 = Main.sparkSnapshot(ctx)
      closedLoop(port, ns, orders, ctx.seed, ctx.seconds, Some(seen))
      val w1 = Main.sparkSnapshot(ctx)
      val (results, restTimes, familyOf) = (seen.results, seen.restTimes, seen.familyOf)

      // Verify: every REST answer equals the same SQL over plain parquet views.
      val verdicts = Main.parMap(results.asScala.toSeq, ctx.cores) { case (key, hs) =>
        val Array(tmpl, text) = key.split("\u0000", 2)
        val want = digestDf(spark.sql(Stmt("", tmpl).render(None)))
        hs.asScala.toSeq.map { h =>
          if (h != want) Rec.fail(s"sql result mismatch (${familyOf.get(text)}): $text")
          h == want
        }
      }.flatten
      val checked = verdicts.size; val bad = verdicts.count(!_)
      Rec.add("check.attempted", checked); Rec.add("check.failed", bad)

      if (ctx.trace) traceExtras(spark, ns, restTimes, familyOf)
      Map("window" -> Map("start" -> w0, "end" -> w1), "clients" -> clients, "orders" -> orders)
    } finally {
      graft.GraftRestServer.stop()
      graft.GraftAudit.disable()
      graft.ConnectAuth.disable()
    }
  }

  /** Traced run only: up to 6 distinct statements again through `spark.sql`
    * with the planning phases forced one by one (its REST time minus this
    * direct time is the gateway's overhead), catalog loads, and the MV route.
    */
  private def traceExtras(spark: SparkSession, ns: String,
      restTimes: ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]],
      familyOf: ConcurrentHashMap[String, String]): Unit = {
    restTimes.asScala.take(6).foreach { case (text, times) =>
      val fam = familyOf.get(text)
      val t0 = Rec.now()
      val df = Rec.span("plans.analyze", fam)(spark.sql(text))
      val opt = Rec.span("plans.optimize", fam)(df.queryExecution.optimizedPlan)
      val plan = Rec.span("plans.plan", fam)(df.queryExecution.executedPlan)
      Rec.span("scan.exec", fam)(df.collect())
      val direct = Rec.now() - t0
      val rest = times.asScala.toSeq.sorted
      Rec.sample("gateway.overhead_s", rest(rest.size / 2) - direct)
      if (fam == "rollup") {
        Rec.add("plans.mv_eligible", 1)
        // A routed plan reads the rollup's partial columns instead of the base table.
        if (opt.toString.contains("sum_o_totalprice") || opt.toString.contains("max_o_totalprice"))
          Rec.add("plans.mv_routed", 1)
      }
      Rec.add("scan.reads", 1)
      if (Main.rowPath(plan)) Rec.add("scan.row_path", 1)
    }
    val cat = spark.sessionState.catalogManager.catalog("graft_cat").asInstanceOf[TableCatalog]
    (0 until 3).foreach(_ => tables.foreach { t =>
      val tns = if (facts.contains(t)) ns else "d"
      Rec.span("catalog.load_table", t)(cat.loadTable(Identifier.of(Array(tns), t)))
    })
  }
}
