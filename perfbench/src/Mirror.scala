package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.{TableDef, TableDefs}

/** The mirror read path: five Spark SQL queries a user of the mirror runs,
  * each paired with the same query evaluated over the oracle's state, plus
  * the stored-table digest and on-disk layout figures. */
object Mirror {

  final case class Query(name: String, tables: Seq[String], sql: String,
                         expected: Oracle => Seq[String])

  private def month(epochS: Any): String = epochS match {
    case s: Long => java.time.Instant.ofEpochSecond(s).atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM"))
    case _ => null
  }
  private val JsonId = "\"id\":\"([^\"]*)\"".r.unanchored
  /** `coalesce(get_json_object(v, '$.id'), v)` for the generator's values. */
  private def idOf(v: Any): Any = v match {
    case s: String if s.startsWith("{") => s match { case JsonId(id) => id; case _ => null }
    case other => other
  }
  private def rows(o: Oracle, t: TableDef): Iterable[String => Any] = {
    val c = Oracle.colIdx(t)
    o.tables.getOrElse(t.table, mutable.HashMap.empty).values
      .map(r => (name: String) => r.values(c(name)))
  }
  private def sumOpt(xs: Iterable[Any]): Any = {
    val ls = xs.collect { case l: Long => l }
    if (ls.isEmpty) null else ls.sum
  }
  private def str(xs: Any*): String = xs.map(String.valueOf).mkString("|")

  val queries: Seq[Query] = Seq(
    Query("mrr_by_month", Seq("subscriptions", "subscription_items", "prices"),
      """SELECT date_format(timestamp_seconds(s.current_period_start), 'yyyy-MM') AS month,
        |       SUM(si.quantity * p.unit_amount) AS mrr, COUNT(DISTINCT s.id) AS subs
        |FROM subscriptions s
        |JOIN subscription_items si
        |  ON si.subscription = s.id AND NOT coalesce(si.deleted, false)
        |JOIN prices p ON p.id = coalesce(get_json_object(si.price, '$.id'), si.price)
        |WHERE s.status IN ('active', 'trialing', 'past_due')
        |GROUP BY 1""".stripMargin,
      o => {
        val subs = rows(o, TableDefs.subscriptions)
          .filter(s => Set[Any]("active", "trialing", "past_due")(s("status")))
          .map(s => s("id") -> s).toMap
        val price = rows(o, TableDefs.prices).map(p => p("id") -> p("unit_amount")).toMap
        val joined = rows(o, TableDefs.subscriptionItems)
          .filter(i => i("deleted") != true && subs.contains(i("subscription")) &&
            price.contains(idOf(i("price"))))
          .map { i =>
            val s = subs(i("subscription"))
            val mrr = (i("quantity"), price(idOf(i("price")))) match {
              case (q: Long, u: Long) => q * u
              case _ => null
            }
            (month(s("current_period_start")), mrr, s("id"))
          }
        joined.groupBy(_._1).map { case (m, xs) =>
          str(m, sumOpt(xs.map(_._2)), xs.map(_._3).toSet.size.toLong)
        }.toSeq
      }),
    Query("revenue_by_customer", Seq("charges", "customers"),
      """SELECT c.id AS customer, SUM(ch.amount - coalesce(ch.amount_refunded, 0)) AS revenue,
        |       COUNT(*) AS n
        |FROM charges ch JOIN customers c ON c.id = ch.customer
        |WHERE ch.status = 'succeeded' AND NOT coalesce(c.deleted, false)
        |GROUP BY c.id ORDER BY revenue DESC, customer LIMIT 100""".stripMargin,
      o => {
        val live = rows(o, TableDefs.customers).filter(_("deleted") != true).map(_("id")).toSet
        val per = rows(o, TableDefs.charges)
          .filter(c => c("status") == "succeeded" && live(c("customer")))
          .groupBy(_("customer")).map { case (cu, cs) =>
            val net = cs.map(c => (c("amount"), c("amount_refunded")) match {
              case (a: Long, r: Long) => a - r
              case (a: Long, null) => a
              case _ => null
            })
            (cu.asInstanceOf[String], sumOpt(net), cs.size.toLong)
          }.toSeq
        per.sortBy { case (cu, rev, _) =>
          (rev match { case l: Long => -l; case _ => Long.MaxValue }, cu)
        }.take(100).map { case (cu, rev, n) => str(cu, rev, n) }
      }),
    Query("latest_invoice", Seq("invoices"),
      """SELECT status, COUNT(*) AS customers, SUM(amount_due) AS due FROM (
        |  SELECT customer, status, amount_due,
        |         row_number() OVER (PARTITION BY customer ORDER BY created DESC, id DESC) AS rn
        |  FROM invoices WHERE customer IS NOT NULL)
        |WHERE rn = 1 GROUP BY status""".stripMargin,
      o => {
        val latest = rows(o, TableDefs.invoices).filter(_("customer") != null)
          .groupBy(_("customer")).values.map(_.maxBy(i =>
            (i("created") match { case l: Long => l; case _ => Long.MinValue },
              i("id").asInstanceOf[String])))
        latest.groupBy(_("status")).map { case (s, is) =>
          str(s, is.size.toLong, sumOpt(is.map(_("amount_due"))))
        }.toSeq
      }),
    Query("dispute_rate", Seq("charges", "disputes"),
      """SELECT date_format(timestamp_seconds(ch.created), 'yyyy-MM') AS month,
        |       COUNT(DISTINCT d.charge) AS disputed, COUNT(DISTINCT ch.id) AS charges
        |FROM charges ch LEFT JOIN disputes d ON d.charge = ch.id
        |GROUP BY 1""".stripMargin,
      o => {
        val disputed = rows(o, TableDefs.disputes).map(_("charge")).toSet
        rows(o, TableDefs.charges).groupBy(c => month(c("created"))).map { case (m, cs) =>
          val ids = cs.map(_("id")).toSet
          str(m, ids.count(disputed).toLong, ids.size.toLong)
        }.toSeq
      }),
    Query("orphan_charges", Seq("charges", "customers"),
      """SELECT COUNT(*) AS orphans, SUM(ch.amount) AS amount
        |FROM charges ch LEFT ANTI JOIN customers c ON c.id = ch.customer
        |WHERE ch.customer IS NOT NULL""".stripMargin,
      o => {
        val ids = rows(o, TableDefs.customers).map(_("id")).toSet
        val orphans = rows(o, TableDefs.charges)
          .filter(c => c("customer") != null && !ids(c("customer")))
        Seq(str(orphans.size.toLong, sumOpt(orphans.map(_("amount")))))
      }))

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Run one query over the tables as they are now; rows as sorted strings. */
  def run(spark: SparkSession, dir: String, q: Query): Seq[String] = {
    q.tables.foreach { t =>
      val path = s"$dir/$t"
      val df = if (exists(spark, path)) spark.read.parquet(path)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          TableDefs.byTable(t).schema)
      df.createOrReplaceTempView(t)
    }
    spark.sql(q.sql).collect().map(r => r.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  /** Compare every table the oracle knows with the stored mirror: row
    * count, distinct keys and the xor of row hashes ([[Oracle.rowHash]]),
    * all tables in one Spark job. */
  def verify(spark: SparkSession, dir: String, o: Oracle): Seq[String] = {
    val names = o.tables.keys.toSeq.sorted
    val stored = names.filter(t => exists(spark, s"$dir/$t")).map { name =>
      val cols = Oracle.compared(TableDefs.byTable(name))
      spark.read.parquet(s"$dir/$name")
        .select(xxhash64(cols.flatMap(c => Seq(col(c), col(c).isNull)): _*).as("h"), col("id"))
        .agg(count(lit(1)).as("n"), coalesce(expr("bit_xor(h)"), lit(0L)).as("x"),
          countDistinct(col("id")).as("keys"))
        .withColumn("table", lit(name))
    }.reduceOption(_ unionByName _).map(_.collect().map(r =>
      r.getAs[String]("table") -> (r.getAs[Long]("n"), r.getAs[Long]("x"), r.getAs[Long]("keys"))).toMap)
      .getOrElse(Map.empty)
    names.flatMap { name =>
      val t = TableDefs.byTable(name)
      val (n, x, distinct) = stored.getOrElse(name, (0L, 0L, 0L))
      val (en, ex) = o.digest(t)
      if (n == en && x == ex && distinct == n) None
      else Some(s"$name: stored $n rows ($distinct keys) hash $x, expected $en rows hash $ex; " +
        diff(spark, dir, t, o))
    }
  }

  /** The first few rows that differ, for the failure message. */
  private def diff(spark: SparkSession, dir: String, t: TableDef, o: Oracle): String = {
    val cols = Oracle.compared(t)
    val idx = cols.map(t.columns.indexOf(_))
    val stored = spark.read.parquet(s"$dir/${t.table}").select(cols.map(col): _*).collect()
      .map(r => r.getString(0) -> cols.indices.map(i => r.get(i))).toMap
    val want = o.tables.getOrElse(t.table, mutable.HashMap.empty)
      .map { case (id, r) => id -> idx.map(r.values(_)) }
    (stored.keySet ++ want.keySet).toSeq.sorted.iterator.flatMap { id =>
      (stored.get(id), want.get(id)) match {
        case (Some(a), Some(b)) =>
          val d = cols.indices.filter(i => a(i) != b(i))
            .map(i => s"${cols(i)} stored ${a(i)} expected ${b(i)}")
          if (d.isEmpty) None else Some(s"$id: ${d.take(3).mkString(", ")}")
        case (a, _) => Some(s"$id ${if (a.isDefined) "unexpected" else "missing"}")
      }
    }.take(3).mkString("; ")
  }

  /** Parquet files and bytes under each table directory. */
  def layout(spark: SparkSession, dir: String, tables: Iterable[String]): Map[String, (Int, Long)] =
    tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) t -> (0, 0L)
      else {
        val files = fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
        t -> (files.length, files.map(_.getLen).sum)
      }
    }.toMap
}
