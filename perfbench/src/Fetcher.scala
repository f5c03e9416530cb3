package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import graft.model.{TableDef, TableDefs}
import graft.operators.Backfill

/** What the fetcher serves: per table, the entities a list call returns
  * (id, created, payload), plus entities only a point lookup finds — ones
  * created after the list snapshot and customers that exist only as
  * references. */
final class Catalog(val listed: Map[String, IndexedSeq[(String, Long, () => Obj)]],
                    val lookupOnly: Map[String, () => Obj]) {
  lazy val byId: Map[String, () => Obj] =
    listed.values.flatten.map { case (id, _, p) => id -> p }.toMap ++ lookupOnly

  /** The same catalog listing only `tables`. */
  def only(tables: Set[String]): Catalog =
    new Catalog(listed.filter { case (t, _) => tables(t) }, lookupOnly)
}

object Catalog {
  /** The account as a Stripe API would list it: products, prices,
    * customers (the newest 3% are missing from the list), subscriptions
    * and their items, invoices, payment intents, charges, disputes and
    * active entitlements, each at its current version. */
  def of(a: Account): Catalog = {
    import TableDefs._
    def entry(e: Ent) = (e.id, e.created, () => a.payload(e, e.version))
    val custs = a.ents(customers).sortBy(_.created)
    val hidden = custs.takeRight(math.max(1, custs.size * 3 / 100))
    val hiddenIds = hidden.map(_.id).toSet
    val listed = a.tables.values.flatten.filterNot(e => hiddenIds(e.id))
      .groupBy(_.tdef.table).map { case (t, es) => t -> es.map(entry).toIndexedSeq }
    val items = a.ents(subscriptions).flatMap(s => s.items.map { i =>
      (a.itemId(s, i), s.created, () => a.itemPayload(s, i, s.version))
    }).toIndexedSeq
    val ents = custs.flatMap(c => c.features.toSeq.sorted.map { f =>
      (a.entitlementId(c, f), c.created,
        () => Obj(a.entitlementPayload(c, f).fields :+ ("customer" -> c.id)))
    }).toIndexedSeq
    val ghosts = a.ents(charges).map(_.refs("customer").asInstanceOf[String])
      .filter(_.startsWith("cus_ghost")).distinct.map { id =>
        id -> (() => Obj(Seq("id" -> id, "object" -> "customer", "email" -> s"$id@example.com",
          "created" -> a.t0, "livemode" -> false)))
      }
    new Catalog(listed ++ Map(subscriptionItems.table -> items,
      activeEntitlements.table -> ents),
      hidden.map(e => e.id -> entry(e)._3).toMap ++ ghosts)
  }

  private val registry = new ConcurrentHashMap[String, Catalog]()
  def register(key: String, c: Catalog): Unit = registry.put(key, c)
  def apply(key: String): Catalog = registry.get(key)

  /** Time spent inside fetcher calls, ns (driver and task threads). */
  val fetchNanos = new AtomicLong()
  /** Driver-side list events for per-chunk timing: (nanoTime, kind) with
    * kind [[Start]] when a list call begins, [[Element]] after each entity
    * handed out and [[Exhausted]] for each pull that found the list empty. */
  val pulls = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
  val Start = 0; val Element = 1; val Exhausted = 2
  def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally fetchNanos.addAndGet(System.nanoTime() - t0)
  }
}

/** A `Backfill.EntityFetcher` over a registered [[Catalog]]: `list` with
  * `created`-range pushdown, `retrieve` by id, `listForParent`. It carries
  * only the catalog's key, so shipping it to tasks is cheap; payload JSON
  * is rendered on demand, and all time inside it is counted in
  * [[Catalog.fetchNanos]] so generator cost is never billed to the engine. */
final class CatalogFetcher(key: String) extends Backfill.EntityFetcher {
  override def list(tdef: TableDef, createdGte: Option[Long],
                    createdLt: Option[Long]): Iterator[String] = {
    val rows = Catalog.timed(Catalog(key).listed.getOrElse(tdef.table, IndexedSeq.empty)
      .filter { case (_, c, _) => createdGte.forall(c >= _) && createdLt.forall(c < _) })
    Catalog.pulls.add((System.nanoTime(), Catalog.Start))
    new Iterator[String] {
      private var i = 0
      def hasNext: Boolean = {
        val more = i < rows.size
        if (!more) Catalog.pulls.add((System.nanoTime(), Catalog.Exhausted))
        more
      }
      def next(): String = Catalog.timed {
        val s = Json.render(rows(i)._3())
        i += 1
        Catalog.pulls.add((System.nanoTime(), Catalog.Element))
        s
      }
    }
  }

  override def retrieve(tdef: TableDef, id: String): Option[String] =
    Catalog.timed(Catalog(key).byId.get(id).map(p => Json.render(p())))

  override def listForParent(tdef: TableDef, parentCol: String, parentId: String): Seq[String] =
    Catalog.timed(Catalog(key).listed.getOrElse(tdef.table, IndexedSeq.empty)
      .map(r => r._3()).filter(_.get(parentCol) == parentId).map(Json.render))
}
