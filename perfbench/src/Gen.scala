package perfbench

import scala.collection.mutable
import graft.model.{TableDef, TableDefs}
import graft.sources.StripeEvents

/** One Stripe event. `payload` is the `data.object` value (an [[Obj]], or
  * null for a malformed delivery that carries no object). */
final case class Event(id: String, etype: String, created: Long, payload: Obj) {
  def envelope: Obj = {
    val data =
      if (payload == null) Obj(Nil)
      else Obj(Seq("object" -> payload,
        "previous_attributes" -> Obj(Seq("metadata" -> Obj(Seq("v" -> "prev"))))))
    Obj(Seq("id" -> id, "object" -> "event", "api_version" -> Gen.ApiVersion,
      "created" -> created, "type" -> etype, "livemode" -> false, "data" -> data))
  }
}

/** One webhook delivery: the raw text the engine receives, plus the event
  * it encodes (None for text that is not an event at all). Redeliveries
  * reuse the same instance, so their text is byte-identical. */
final class Delivery(val event: Option[Event], text: => String) {
  lazy val json: String = text
}
object Delivery {
  def of(e: Event): Delivery = new Delivery(Some(e), Json.render(e.envelope))
  def garbage(s: String): Delivery = new Delivery(None, s)
}

/** A generated entity. `refs` are its relational fields (customer, charge,
  * product, ...); everything else derives from (seed, table, idx, version). */
final class Ent(val tdef: TableDef, val idx: Int, val id: String,
                val created: Long, val refs: Map[String, Any]) {
  var version = 0
  /** Subscriptions: the current item indices. */
  var items: Vector[Int] = Vector.empty
  /** Customers: the features (indices) of the current entitlement set. */
  var features: Set[Int] = Set.empty
}

/** Deterministic generator of a Stripe-shaped account and its webhook
  * traffic. Payload fields and their types come from
  * [[graft.model.TableDefs]]; event types come from
  * [[graft.sources.StripeEvents.routes]]. Every value is a function of the
  * seed, so the same seed always yields the same deliveries. */
object Gen {
  val ApiVersion = "2024-06-20"
  /** Event clock origins; an account's entities are created up to a year
    * before its origin. A backlog (2023-11-14T22:13:20Z) predates every
    * wall-clock sync timestamp. Live traffic (2100-01-01T00:00:00Z) is
    * newer than any row a backfill stamps with now(), as live events are
    * newer than the resync that preceded them. */
  val Backlog = 1700000000L
  val Live = 4102444800L
  val Features = 12

  def mix(xs: Long*): Long = {
    var h = 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      h ^= x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2)
      h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 31
    }
    h & Long.MaxValue
  }

  def upsertTypes(t: TableDef): Seq[String] =
    StripeEvents.routes.collect { case (ty, (`t`, StripeEvents.Upsert)) => ty }.toSeq.sorted
  def routedType(t: TableDef, action: StripeEvents.Action): Option[String] =
    StripeEvents.routes.collectFirst { case (ty, (`t`, `action`)) => ty }
  val EntitlementSummary: String =
    routedType(TableDefs.activeEntitlements, StripeEvents.EntitlementDelta).get
}

/** Entity counts per table for one account. */
final case class Sizes(customers: Int, charges: Int, invoices: Int,
                       paymentIntents: Int, subscriptions: Int, products: Int,
                       prices: Int, disputes: Int)
object Sizes {
  /** A mirror of roughly `rows` rows (items and entitlements included). */
  def forRows(rows: Int): Sizes = {
    def f(share: Double, min: Int) = math.max(min, (rows * share).toInt)
    Sizes(customers = f(0.17, 20), charges = f(0.32, 40), invoices = f(0.17, 20),
      paymentIntents = f(0.11, 10), subscriptions = f(0.05, 10),
      products = f(0.002, 8), prices = f(0.006, 16), disputes = f(0.01, 4))
  }
}

/** The generated account: every entity with its current version. */
final class Account(val seed: Long, val sizes: Sizes, val t0: Long) {
  import Gen._
  import TableDefs._

  private val rng = new java.util.SplittableRandom(seed)
  private val tableNo: Map[String, Int] =
    TableDefs.all.map(_.table).zipWithIndex.toMap

  private def mkId(t: TableDef, idx: Int): String =
    f"${t.idPrefixes.head}${mix(seed, tableNo(t.table), idx) % 1000000000L}%09d$idx%x"
  private def pastCreated(): Long = t0 - 86400L * 365 + rng.nextLong(86400L * 365)

  val tables: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Ent]] =
    mutable.LinkedHashMap(Seq(products, prices, customers, subscriptions,
      invoices, paymentIntents, charges, disputes)
      .map(_.table -> mutable.ArrayBuffer.empty[Ent]): _*)
  def ents(t: TableDef): mutable.ArrayBuffer[Ent] = tables(t.table)

  /** Subscription items and entitlements are children: their ids derive
    * from the parent, their rows from the parent's payload. */
  def itemId(sub: Ent, item: Int): String = s"si_${sub.id.drop(4)}_$item"
  def entitlementId(cust: Ent, feature: Int): String =
    s"ent_${cust.id.drop(4)}_$feature"
  /** Customers referenced by charges but never created (orphan rows). */
  def ghostCustomer(i: Int): String = s"cus_ghost$seed$i"

  def pick(t: TableDef): Ent = {
    // Zipf (s = 1): P(k) ∝ 1/(k+1) over the table's entities
    val es = ents(t)
    val k = (math.exp(rng.nextDouble() * math.log(es.size + 1.0)) - 1.0).toInt
    es(math.min(k, es.size - 1))
  }
  def uniform(t: TableDef): Ent = { val es = ents(t); es(rng.nextInt(es.size)) }
  def chance(p: Double): Boolean = rng.nextDouble() < p
  def nextInt(n: Int): Int = rng.nextInt(n)

  def create(t: TableDef, created: Long = -1L): Ent = {
    val es = ents(t)
    val idx = es.size
    val refs: Map[String, Any] = t.table match {
      case "prices" => Map("product" -> uniform(products).id)
      case "customers" => Map.empty
      case "subscriptions" | "payment_intents" => Map("customer" -> pick(customers).id)
      case "invoices" => Map("customer" -> pick(customers).id,
        "subscription" -> (if (chance(0.5)) uniform(subscriptions).id else null))
      case "charges" =>
        val cust = if (chance(0.01)) ghostCustomer(rng.nextInt(50)) else pick(customers).id
        Map("customer" -> cust,
          "invoice" -> (if (chance(0.6)) uniform(invoices).id else null),
          "payment_intent" -> uniform(paymentIntents).id)
      case "disputes" =>
        val ch = uniform(charges)
        Map("charge" -> ch.id, "payment_intent" -> ch.refs("payment_intent"))
      case _ => Map.empty
    }
    val e = new Ent(t, idx, mkId(t, idx), if (created < 0) pastCreated() else created, refs)
    if (t.table == "subscriptions") e.items = Vector.tabulate(1 + rng.nextInt(3))(identity)
    if (t.table == "customers" && chance(0.15))
      e.features = Set.tabulate(1 + rng.nextInt(3))(_ => rng.nextInt(Features))
    es += e
    e
  }

  // creation order respects the references: parents exist first
  Seq(products -> sizes.products, prices -> sizes.prices,
    customers -> sizes.customers, subscriptions -> sizes.subscriptions,
    invoices -> sizes.invoices, paymentIntents -> sizes.paymentIntents,
    charges -> sizes.charges, disputes -> sizes.disputes)
    .foreach { case (t, n) => (0 until n).foreach(_ => create(t)) }

  private val statuses: Map[String, Seq[String]] = Map(
    "charges" -> Seq("succeeded", "succeeded", "succeeded", "pending", "failed"),
    "invoices" -> Seq("paid", "paid", "open", "draft", "void", "uncollectible"),
    "subscriptions" -> Seq("active", "active", "active", "trialing", "past_due", "canceled"),
    "payment_intents" -> Seq("succeeded", "succeeded", "processing", "requires_action", "canceled"),
    "disputes" -> Seq("needs_response", "under_review", "won", "lost"))

  /** Every column of `t` with a value of its declared type, as of `v`. */
  def payload(e: Ent, v: Int): Obj = {
    val t = e.tdef
    val tn = tableNo(t.table)
    val fields = t.columns.zipWithIndex.map { case (c, ci) =>
      val h = mix(seed, tn, e.idx, ci, v)
      val value: Any = c match {
        case "id" => e.id
        case "object" => t.stripeObject
        case "created" => e.created
        case "livemode" => false
        case "deleted" => null
        case "metadata" => Obj(Seq("v" -> v.toString))
        case "currency" => if (h % 10 == 0) "eur" else "usd"
        case "status" if statuses.contains(t.table) =>
          val s = statuses(t.table); s((h % s.size).toInt)
        case "email" | "name" | "description" | "number" | "receipt_email" =>
          s"${c.take(2)}${e.idx}v$v"
        case "items" if t == subscriptions => Obj(Seq("object" -> "list",
          "data" -> e.items.map(i => itemPayload(e, i, v)), "has_more" -> false))
        case "recurring" if t == prices =>
          Obj(Seq("interval" -> (if (h % 5 == 0) "year" else "month"), "interval_count" -> 1L))
        case "current_period_start" | "period_start" => e.created + 86400L * 30 * (v % 12)
        case "current_period_end" | "period_end" => e.created + 86400L * 30 * (v % 12 + 1)
        case "amount_refunded" => if (h % 8 == 0) (h >>> 8) % 500 else 0L
        case _ if e.refs.contains(c) => e.refs(c)
        case _ => t.sparkType(c) match {
          case org.apache.spark.sql.types.LongType => 100L + (h >>> 4) % 100000
          case org.apache.spark.sql.types.BooleanType => (h & 1L) == 0L
          case org.apache.spark.sql.types.DoubleType => ((h >>> 4) % 9) * 0.5
          case _ => if (h % 5 < 2) null else s"${c.take(2)}${(h >>> 4) % 7}"
        }
      }
      c -> value
    }
    Obj(fields)
  }

  /** A subscription item as it appears inside the subscription's `items`. */
  def itemPayload(sub: Ent, item: Int, v: Int): Obj = {
    val priceIdx = (mix(seed, sub.idx, item) % ents(prices).size).toInt
    val fields = subscriptionItems.columns.map {
      case "id" => "id" -> itemId(sub, item)
      case "object" => "object" -> subscriptionItems.stripeObject
      case "created" => "created" -> sub.created
      case "quantity" => "quantity" -> (1L + mix(seed, sub.idx, item, v) % 4)
      case "price" => "price" -> Obj(Seq("id" -> ents(prices)(priceIdx).id, "object" -> "price"))
      case "subscription" => "subscription" -> sub.id
      case "metadata" => "metadata" -> Obj(Nil)
      case "current_period_start" => "current_period_start" -> (sub.created + 86400L * 30 * (v % 12))
      case "current_period_end" => "current_period_end" -> (sub.created + 86400L * 30 * (v % 12 + 1))
      case c => c -> null
    }
    Obj(fields)
  }

  /** An active entitlement as it appears inside a summary. */
  def entitlementPayload(cust: Ent, feature: Int): Obj = Obj(Seq(
    "id" -> entitlementId(cust, feature),
    "object" -> activeEntitlements.stripeObject,
    "feature" -> Obj(Seq("id" -> s"feat_$seed$feature", "object" -> features.stripeObject)),
    "lookup_key" -> s"feature_$feature",
    "livemode" -> false))

  def summaryPayload(cust: Ent): Obj = Obj(Seq(
    "object" -> "entitlements.active_entitlement_summary",
    "customer" -> cust.id,
    "entitlements" -> Obj(Seq("object" -> "list",
      "data" -> cust.features.toSeq.sorted.map(f => entitlementPayload(cust, f)),
      "has_more" -> false)),
    "livemode" -> false))
}

/** Webhook traffic over an [[Account]]: a seed load (one create event per
  * entity) and then a stream of deliveries with updates, creates, customer
  * deletes, redeliveries, out-of-order and tied events. */
final class Traffic(val account: Account, mix: Traffic.Mix) {
  import Gen._
  import TableDefs._
  private val a = account

  private var clock = account.t0
  private var evtNo = 0L
  private def nextEventId(): String = {
    evtNo += 1
    // random-looking ids, so the equal-`created` tie-break (larger event
    // id wins) is not simply delivery order
    f"evt_${Gen.mix(a.seed, evtNo) % 1000000000000L}%012d$evtNo%x"
  }
  private def event(etype: String, payload: Obj, created: Long = -1L): Event = {
    val ts = if (created >= 0) created else { clock += 1; clock }
    Event(nextEventId(), etype, ts, payload)
  }

  /** Stratified per-mille draws: each block of 20 holds one value from each
    * 50-per-mille stratum, in shuffled order, so every ~20 consecutive
    * deliveries carry nearly the same mix of kinds. */
  private final class Strata {
    private var block = List.empty[Int]
    def next(): Int = {
      if (block.isEmpty) {
        val b = Array.tabulate(20)(k => k * 50 + a.nextInt(50))
        for (i <- b.indices.reverse) {
          val j = a.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t
        }
        block = b.toList
      }
      val r = block.head
      block = block.tail
      r
    }
  }
  private val kinds = new Strata
  private val targets = new Strata

  private val recent = mutable.ArrayBuffer.empty[Delivery]
  private val delayed = mutable.ArrayBuffer.empty[(Int, Delivery)]
  private var batchNo = 0

  /** The seed load: one create (or summary) event per entity, each created
    * at its entity's creation time, in one batch. */
  def seedBatch(): Seq[Delivery] = {
    val out = mutable.ArrayBuffer.empty[Delivery]
    a.tables.values.foreach(_.foreach { e =>
      val ty = createType(e.tdef)
      out += Delivery.of(event(ty, a.payload(e, 0), e.created))
    })
    a.ents(customers).filter(_.features.nonEmpty).foreach { c =>
      out += Delivery.of(event(EntitlementSummary, a.summaryPayload(c), c.created + 1))
    }
    out.toSeq
  }

  private def createType(t: TableDef): String = {
    val ups = upsertTypes(t)
    ups.find(_.endsWith(".created")).getOrElse(ups.head)
  }
  private def updateType(t: TableDef): String = {
    val ups = upsertTypes(t).filterNot(_.endsWith(".created"))
    ups(a.nextInt(ups.size))
  }

  private def update(e: Ent): Event = {
    e.version += 1
    if (e.tdef == subscriptions && a.chance(0.4)) {
      // J3: items come and go
      if (e.items.size > 1 && a.chance(0.5)) e.items = e.items.filterNot(_ == e.items(a.nextInt(e.items.size)))
      else e.items = e.items :+ (e.items.maxOption.getOrElse(-1) + 1)
    }
    event(updateType(e.tdef), a.payload(e, e.version))
  }

  private def fresh(): Seq[Event] = {
    val r = targets.next()
    val m = mix
    if (r < m.charges) {
      if (a.chance(0.25)) { val e = a.create(charges, clock + 1); Seq(event(createType(charges), a.payload(e, 0))) }
      else Seq(update(a.pick(charges)))
    } else if (r < m.invoices) {
      if (a.chance(0.2)) { val e = a.create(invoices, clock + 1); Seq(event(createType(invoices), a.payload(e, 0))) }
      else Seq(update(a.pick(invoices)))
    } else if (r < m.customers) {
      val p = a.nextInt(100)
      if (p < 20) { val e = a.create(customers, clock + 1); Seq(event(createType(customers), a.payload(e, 0))) }
      else if (p < 28) {
        val e = a.pick(customers)
        Seq(event(routedType(customers, StripeEvents.DeletedUpsert).get, a.payload(e, e.version)))
      } else Seq(update(a.pick(customers)))
    } else if (r < m.subscriptions) {
      if (a.chance(0.1)) { val e = a.create(subscriptions, clock + 1); Seq(event(createType(subscriptions), a.payload(e, 0))) }
      else Seq(update(a.pick(subscriptions)))
    } else {
      val c = a.pick(customers)
      val f = a.nextInt(Features)
      c.features = if (c.features(f)) c.features - f else c.features + f
      Seq(event(EntitlementSummary, a.summaryPayload(c)))
    }
  }

  /** Two updates of one entity with EQUAL `created` and different content:
    * the larger event id must win. Subscriptions are excluded — their
    * normalized items carry no event-id tie-break — and so are tables
    * neither mix updates, so a tie never adds a table to a batch. */
  private def tie(): Seq[Event] = {
    val t = Seq(charges, invoices, customers)(a.nextInt(3))
    val e = a.pick(t)
    e.version += 1
    val first = event(updateType(t), a.payload(e, e.version))
    e.version += 1
    Seq(first, event(updateType(t), a.payload(e, e.version), first.created))
  }

  /** The next batch of `n` deliveries. */
  def batch(n: Int): Seq[Delivery] = {
    batchNo += 1
    val out = mutable.ArrayBuffer.empty[Delivery]
    val due = delayed.filter(_._1 <= batchNo)
    delayed --= due
    out ++= due.map(_._2)
    while (out.size < n) {
      val r = kinds.next()
      if (r < mix.redeliver && recent.nonEmpty)
        out += recent(recent.size - 1 - a.nextInt(math.min(recent.size, 4 * n)))
      else if (r < mix.redeliver + mix.unrouted)
        out += Delivery.of(event(Traffic.Unrouted(a.nextInt(Traffic.Unrouted.size)),
          Obj(Seq("id" -> s"x_$evtNo", "object" -> "balance"))))
      else if (r < mix.redeliver + mix.unrouted + mix.malformed)
        out += Delivery.of(event(updateType(charges), null))
      else if (r < mix.redeliver + mix.unrouted + mix.malformed + mix.garbage)
        out += Delivery.garbage(s"<html><body>502 Bad Gateway ($evtNo)</body></html>")
      else {
        val evs = if (r < mix.redeliver + mix.unrouted + mix.malformed + mix.garbage + Traffic.Ties) tie()
          else fresh()
        evs.foreach { e =>
          val d = Delivery.of(e)
          // out-of-order: held back and delivered after newer events
          if (a.chance(Traffic.LateFrac)) delayed += ((batchNo + 1 + a.nextInt(3), d))
          else out += d
          recent += d
        }
      }
    }
    if (recent.size > 8 * n) recent.remove(0, recent.size - 4 * n)
    out.toSeq
  }
}

object Traffic {
  /** Per-mille cumulative shares of fresh event kinds (the rest are
    * entitlement summaries), and per-mille shares of the delivery kinds
    * that are not fresh events. */
  final case class Mix(charges: Int, invoices: Int, customers: Int, subscriptions: Int,
                       redeliver: Int, unrouted: Int, malformed: Int, garbage: Int)
  /** The billing core with entitlements; few redeliveries, no bad input. */
  val Catchup = Mix(charges = 380, invoices = 600, customers = 760, subscriptions = 900,
    redeliver = 40, unrouted = 0, malformed = 0, garbage = 0)
  /** Four tables only, so every small batch touches the same ones; many
    * redeliveries and some bad deliveries. */
  val Live = Mix(charges = 450, invoices = 650, customers = 850, subscriptions = 1000,
    redeliver = 250, unrouted = 20, malformed = 15, garbage = 10)
  /** Per-mille share of equal-`created` tie pairs. */
  val Ties = 20
  /** Share of fresh events held back and delivered out of order. */
  val LateFrac = 0.03
  val Unrouted = Seq("balance.available", "payout.paid", "account.updated")
}
