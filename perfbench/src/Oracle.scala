package perfbench

import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.model.{TableDef, TableDefs}
import graft.sources.StripeEvents
import graft.sources.StripeEvents.{Delete, DeletedUpsert, EntitlementDelta, Upsert}

/** One mirror row as the oracle sees it: the projected columns of its
  * table, and the sync timestamp in epoch microseconds — the event's
  * `created`, or an [[Oracle.wallClock]] stamp for rows the engine stamps
  * with now(). */
final case class ORow(values: Array[Any], ts: Long)

/** The expected mirror, computed by a plain driver-side fold over the
  * delivered batches in order — independent of `MergeOps` and `MergeSink`.
  * Per batch it applies the route groups in the router's rank order
  * (upserts, deleted-upserts, entitlement deltas, hard deletes); within a
  * group it keeps the latest version per key (larger `created`, then larger
  * event id) and applies it only over an OLDER stored row (the strict
  * `last_synced_at` guard). Subscriptions also normalize their items,
  * flagging items that vanished from an incoming set (J3); entitlement
  * summaries upsert the current set and drop the rest (J4). */
final class Oracle(dedup: Boolean, ledger: Boolean) {
  import Oracle._

  val tables = mutable.HashMap.empty[String, mutable.HashMap[String, ORow]]
  /** Event ids the replay guard has recorded. */
  val recorded = mutable.HashSet.empty[String]
  /** Quarantined event ids, and texts of quarantined non-events. */
  val quarantinedIds = mutable.HashSet.empty[String]
  val quarantinedText = mutable.HashSet.empty[String]
  /** Distinct keys delivered to routed tables by the last batch. */
  var lastKeys = 0
  /** Event ids the replay guard probed, and admitted as fresh. */
  var probed = 0L
  var admitted = 0L

  def table(t: String): mutable.HashMap[String, ORow] =
    tables.getOrElseUpdate(t, mutable.HashMap.empty)

  def apply(batch: Seq[Delivery]): Unit = {
    batch.foreach { d =>
      d.event match {
        case None => quarantinedText += d.json
        case Some(e) if e.payload == null || !StripeEvents.routes.contains(e.etype) =>
          quarantinedIds += e.id
        case _ =>
      }
    }
    val events = batch.flatMap(_.event)
    val fresh = if (dedup) events.filterNot(e => recorded(e.id)) else events
    probed += events.size
    admitted += fresh.size
    if (ledger) {
      val t = TableDefs.events
      upsert(t, fresh.map(e => (project(t, e.envelope), micros(e.created), "")))
    }
    val groups = fresh.filter(e => StripeEvents.routes.contains(e.etype))
      .groupBy(e => StripeEvents.routes(e.etype))
    lastKeys = groups.toSeq.flatMap { case ((t, _), es) =>
      es.filter(_.payload != null).flatMap(e => keysOf(t, e.payload))
    }.distinct.size
    groups.toSeq.sortBy { case ((t, a), _) => (StripeEvents.rank(a), t.table) }
      .foreach { case ((t, action), es0) =>
        val es = es0.filter(_.payload != null)
        action match {
          case Upsert =>
            upsert(t, es.map(e => (project(t, e.payload), micros(e.created), e.id)))
            if (t == TableDefs.subscriptions) normalizeItems(es)
          case DeletedUpsert =>
            upsert(t, es.map { e =>
              val p = Obj(Seq("id" -> e.payload.get("id"),
                "object" -> e.payload.get("object"), "deleted" -> true))
              (project(t, p), micros(e.created), e.id)
            })
          case EntitlementDelta => entitlementDelta(es)
          case Delete =>
            val tab = table(t.table)
            es.foreach(e => tab.remove(e.payload.get("id").asInstanceOf[String]))
        }
      }
    if (dedup) recorded ++= fresh.map(_.id)
  }

  private def keysOf(t: TableDef, p: Obj): Seq[(String, Any)] = t match {
    case TableDefs.activeEntitlements => listData(p, "entitlements").map(x => ("ent", x.get("id")))
    case TableDefs.subscriptions =>
      (t.table, p.get("id")) +: listData(p, "items").map(x => ("si", x.get("id")))
    case _ => Seq((t.table, p.get("id")))
  }

  /** Latest version per key within the batch, applied over older rows. */
  private def upsert(t: TableDef, rows: Seq[(Array[Any], Long, String)]): Unit = {
    val latest = mutable.HashMap.empty[String, (Array[Any], Long, String)]
    rows.foreach { r =>
      val id = r._1(0).asInstanceOf[String]
      if (id != null) latest.get(id) match {
        case Some(cur) if cur._2 > r._2 || (cur._2 == r._2 && cur._3 >= r._3) =>
        case _ => latest(id) = r
      }
    }
    val tab = table(t.table)
    latest.foreach { case (id, (vals, ts, _)) =>
      tab.get(id) match {
        case Some(old) if old.ts >= ts =>
        case _ => tab(id) = ORow(vals, ts)
      }
    }
  }

  private def normalizeItems(subs: Seq[Event]): Unit = {
    val t = TableDefs.subscriptionItems
    val c = colIdx(t)
    val items = subs.flatMap { e =>
      listData(e.payload, "items").map { it =>
        val v = project(t, it)
        v(c("price")) = idOf(it.get("price"))
        if (v(c("subscription")) == null) v(c("subscription")) = e.payload.get("id")
        if (v(c("deleted")) == null) v(c("deleted")) = false
        (v, micros(e.created), "")
      }
    }
    // an empty `items.data` still names its subscription (the engine's
    // explode yields one null-keyed row per empty list), so every stored
    // item of it vanishes
    val emptied = subs.filter(e => isEmptyList(e.payload, "items")).map(_.payload.get("id"))
    if (items.isEmpty && emptied.isEmpty) return
    val subIds = items.map(_._1(c("subscription"))).toSet ++ emptied
    val itemIds = items.map(_._1(0)).toSet
    val tab = table(t.table)
    val now = wallClock()
    val vanished = tab.values.filter { r =>
      subIds(r.values(c("subscription"))) && r.values(c("deleted")) != true &&
        !itemIds(r.values(0))
    }.map { r =>
      val v = r.values.clone(); v(c("deleted")) = true; (v, now, "")
    }
    upsert(t, items ++ vanished)
  }

  private def entitlementDelta(summaries: Seq[Event]): Unit = {
    val t = TableDefs.activeEntitlements
    val c = colIdx(t)
    val ents = summaries.flatMap { e =>
      listData(e.payload, "entitlements").map { x =>
        val v = project(t, x)
        v(c("feature")) = idOf(x.get("feature"))
        if (v(c("customer")) == null) v(c("customer")) = e.payload.get("customer")
        (v, micros(e.created), "")
      }
    }
    val emptied = summaries.filter(e => isEmptyList(e.payload, "entitlements"))
      .map(_.payload.get("customer"))
    if (ents.isEmpty && emptied.isEmpty) return
    upsert(t, ents)
    val custs = ents.map(_._1(c("customer"))).toSet ++ emptied
    val ids = ents.map(_._1(0)).toSet
    val tab = table(t.table)
    tab.filter { case (id, r) => custs(r.values(c("customer"))) && !ids(id) }
      .keys.toSeq.foreach(tab.remove)
  }

  /** A backfill: every fetched entity, projected as is, stamped now() —
    * newer than any row stored before it. */
  def load(t: TableDef, payloads: Iterator[Obj]): Unit = {
    val tab = table(t.table)
    val now = wallClock()
    payloads.foreach { p =>
      val v = project(t, p)
      if (v(0) != null) tab(v(0).asInstanceOf[String]) = ORow(v, now)
    }
  }

  /** (rows, xor of row hashes) per table, in the form [[Mirror.digest]]
    * computes from the stored table. */
  def digest(t: TableDef): (Long, Long) = {
    val cols = Oracle.compared(t)
    val idx = cols.map(t.columns.indexOf(_))
    val types = cols.map(t.sparkType)
    var x = 0L
    val tab = tables.getOrElse(t.table, mutable.HashMap.empty)
    tab.valuesIterator.foreach(r => x ^= rowHash(idx.map(r.values(_)), types))
    (tab.size.toLong, x)
  }
}

object Oracle {
  def micros(epochS: Long): Long = epochS * 1000000L

  /** A wall-clock sync timestamp (epoch µs), newer than every earlier one —
    * the engine takes now() once per operation, after the previous one. */
  private var clock = 0L
  def wallClock(): Long = synchronized {
    clock = math.max(clock + 1, System.currentTimeMillis() * 1000L)
    clock
  }

  /** Columns compared per table: the projected columns (wall-clock
    * `updated_at`/`last_synced_at` excluded); for the events ledger, the
    * envelope scalars (`data` is re-serialized JSON). */
  def compared(t: TableDef): Seq[String] =
    if (t == TableDefs.events) Seq("id", "object", "type", "created", "livemode", "api_version")
    else t.columns

  def colIdx(t: TableDef): Map[String, Int] = t.columns.zipWithIndex.toMap

  def listData(p: Obj, field: String): Seq[Obj] = p.get(field) match {
    case o: Obj => o.get("data") match {
      case xs: Seq[_] => xs.collect { case x: Obj => x }
      case _ => Nil
    }
    case _ => Nil
  }

  def isEmptyList(p: Obj, field: String): Boolean = p.get(field) match {
    case o: Obj => o.get("data") match { case xs: Seq[_] => xs.isEmpty; case _ => false }
    case _ => false
  }

  /** `coalesce(get_json_object(v, '$.id'), v)` on a payload value. */
  def idOf(v: Any): Any = v match {
    case o: Obj => o.get("id")
    case s: String => s
    case _ => null
  }

  /** `TableDef.project` semantics: a field's JSON text for string columns
    * (nested values as compact JSON), the typed value otherwise; missing or
    * mistyped fields are null. */
  def project(t: TableDef, p: Obj): Array[Any] =
    t.columns.map { c =>
      val v = p.get(c)
      t.sparkType(c) match {
        case StringType => v match {
          case null => null
          case s: String => s
          case other => Json.render(other)
        }
        case LongType => v match { case l: Long => l; case _ => null }
        case BooleanType => v match { case b: Boolean => b; case _ => null }
        case DoubleType => v match {
          case d: Double => d; case l: Long => l.toDouble; case _ => null
        }
        case _ => null
      }
    }.toArray

  /** Spark's `xxhash64(c1, isnull(c1), c2, isnull(c2), ...)`. */
  def rowHash(values: Seq[Any], types: Seq[DataType]): Long = {
    var h = 42L
    values.zip(types).foreach { case (v, dt) =>
      if (v != null) {
        val internal: Any = v match {
          case s: String => UTF8String.fromString(s)
          case other => other
        }
        h = XxHash64Function.hash(internal, dt, h)
      }
      h = XxHash64Function.hash(v == null, BooleanType, h)
    }
    h
  }

  /** Hand-built cases the fold must get right before it judges the engine:
    * out-of-order delivery, an equal-`created` tie, exact redelivery, a
    * same-batch create + hard delete, resurrection after a hard delete,
    * J3 vanished items and the J4 entitlement delta. Returns failures. */
  def selfCheck(): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val T = Gen.Backlog
    def expect(cond: Boolean, what: String): Unit = if (!cond) fails += what
    val t = TableDefs.charges
    def ch(id: String, amount: Long) = Obj(Seq("id" -> id, "object" -> "charge", "amount" -> amount))
    def ev(id: String, ty: String, created: Long, p: Obj) = Delivery.of(Event(id, ty, created, p))
    def amount(o: Oracle, id: String): Any =
      o.table("charges").get(id).map(_.values(t.columns.indexOf("amount"))).orNull

    val o = new Oracle(dedup = false, ledger = false)
    val newer = ev("evt_b", "charge.updated", T + 20, ch("ch_1", 2))
    o(Seq(newer))
    o(Seq(ev("evt_a", "charge.updated", T + 10, ch("ch_1", 1))))
    expect(amount(o, "ch_1") == 2L, "out-of-order older event must not apply")
    o(Seq(ev("evt_c", "charge.updated", T + 30, ch("ch_2", 5)),
      ev("evt_d", "charge.updated", T + 30, ch("ch_2", 6))))
    expect(amount(o, "ch_2") == 6L, "equal created: larger event id must win")
    o(Seq(ev("evt_e", "charge.updated", T + 30, ch("ch_2", 7))))
    expect(amount(o, "ch_2") == 6L, "equal created across batches: stored row must stay")
    o(Seq(newer))
    expect(amount(o, "ch_1") == 2L && o.table("charges").size == 2, "redelivery must be a no-op")

    val pr = TableDefs.products
    def prod(id: String, name: String) = Obj(Seq("id" -> id, "object" -> "product", "name" -> name))
    o(Seq(ev("evt_f", "product.created", T + 40, prod("prod_1", "a")),
      ev("evt_g", "product.deleted", T + 41, prod("prod_1", "a"))))
    expect(!o.table("products").contains("prod_1"), "same-batch create + delete must end deleted")
    o(Seq(ev("evt_h", "product.updated", T + 35, prod("prod_1", "b"))))
    expect(o.table("products").get("prod_1").exists(_.values(pr.columns.indexOf("name")) == "b"),
      "an update after a hard delete must resurrect the row, even an older one")

    val sc = colIdx(TableDefs.subscriptionItems)
    def sub(id: String, items: Seq[String]) = Obj(Seq("id" -> id, "object" -> "subscription",
      "items" -> Obj(Seq("object" -> "list", "data" -> items.map(i =>
        Obj(Seq("id" -> i, "object" -> "subscription_item", "quantity" -> 1L,
          "price" -> Obj(Seq("id" -> "price_1", "object" -> "price")))))))))
    o(Seq(ev("evt_i", "customer.subscription.created", T + 50, sub("sub_1", Seq("si_1", "si_2")))))
    o(Seq(ev("evt_j", "customer.subscription.updated", T + 51, sub("sub_1", Seq("si_1")))))
    val items = o.table("subscription_items")
    expect(items.get("si_2").exists(r => r.values(sc("deleted")) == true && r.ts > micros(T + 51)) &&
      items.get("si_1").exists(r => r.values(sc("deleted")) == false &&
        r.values(sc("price")) == "price_1" && r.values(sc("subscription")) == "sub_1"),
      "J3: a vanished item must be flagged deleted, kept items normalized")

    def summary(cust: String, ents: Seq[String]) = Obj(Seq("customer" -> cust,
      "entitlements" -> Obj(Seq("data" -> ents.map(e => Obj(Seq("id" -> e,
        "feature" -> Obj(Seq("id" -> s"feat_$e")))))))))
    o(Seq(ev("evt_k", Gen.EntitlementSummary, T + 60, summary("cus_1", Seq("ent_1", "ent_2")))))
    o(Seq(ev("evt_l", Gen.EntitlementSummary, T + 61, summary("cus_1", Seq("ent_2", "ent_3")))))
    expect(o.table("active_entitlements").keySet == Set("ent_2", "ent_3"),
      "J4: the summary must replace the customer's entitlement set")

    val d = new Oracle(dedup = true, ledger = true)
    val once = ev("evt_m", "charge.updated", T + 70, ch("ch_3", 1))
    d(Seq(once, Delivery.garbage("{not json"), ev("evt_n", "payout.paid", T + 70, ch("x", 1))))
    d(Seq(once))
    expect(d.recorded == Set("evt_m", "evt_n") && d.table("events").size == 2 &&
      d.quarantinedIds == Set("evt_n") && d.quarantinedText == Set("{not json"),
      "dedup, events ledger and quarantine bookkeeping")
    fails.toSeq
  }
}
