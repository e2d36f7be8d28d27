package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import scala.collection.mutable

/** One raw orders row, as the reference's orders.csv carries it. */
final case class OrderRow(orderId: Int, userId: Int, evalSet: String, orderNumber: Int,
                          dow: Int, hour: Int, daysSincePrior: Option[Int])

/** Seeded Instacart-shaped CSV generator. It uses only the reference
  * dataset's published properties (BASELINE.md), scaled by `scale`:
  *  - 206,209 users × scale, each with 4-100 orders (mean ≈16.6); every
  *    order is `prior` except each user's last, which is `train` (≈64%)
  *    or `test`;
  *  - `days_since_prior_order` in 0-30, null only on a user's first order
  *    (≈6% of orders, inside the 7% gate);
  *  - basket size ≈10 on average, ≈59% of lines are reorders, `test`
  *    orders carry no lines (as in the reference);
  *  - Zipf-skewed product popularity (top product ≈1.5% of lines), so the
  *    `HAVING COUNT(*) >= 50` velocity mart is non-empty;
  *  - 0.03% duplicate (order_id, product_id) lines, 0 orphan keys, the
  *    full 49,688 products, 134 aisles and 21 departments.
  * The same seed always gives byte-identical files. */
object InstacartGen {
  val Products = 49688
  val Aisles = 134
  val Departments: Vector[String] = Vector("frozen", "other", "bakery", "produce",
    "alcohol", "international", "beverages", "pets", "dry goods pasta", "bulk",
    "personal care", "meat seafood", "pantry", "breakfast", "canned goods",
    "dairy eggs", "household", "babies", "snacks", "deli", "missing")
  private val PublishedUsers = 206209
  private val TrainShare = 131209.0 / 206209.0
  private val DuplicateRate = 0.0003
  private val ZipfExponent = 0.72
  // P(a line of a repeat order is drawn from the user's history); first
  // orders have no history, which pulls the overall share to ≈59%
  private val HistoryPick = 0.70
  private val Words = Vector("organic", "fresh", "whole", "light", "classic",
    "sparkling", "greek", "baby", "green", "sweet", "roasted", "natural",
    "crunchy", "smoked", "vanilla", "spicy", "apple", "banana", "yogurt",
    "cheese", "bread", "water", "chips", "pasta", "sauce", "juice", "milk",
    "coffee", "cereal", "soup", "salsa", "butter", "honey", "tea", "rice")
  private val DowWeights = Array(19, 17, 13, 12, 12, 13, 14)
  private val HourWeights = Array(1, 1, 1, 1, 1, 2, 5, 14, 27, 38, 42, 41, 39,
    40, 41, 40, 37, 33, 27, 21, 16, 13, 10, 6)

  /** Generates the dataset in memory; [[Generated.writeCsvs]] writes it. */
  def generate(seed: Long, scale: Double): Generated = {
    val rng = new SplittableRandom(seed)
    val users = math.max(1, math.round(PublishedUsers * scale).toInt)

    // dimensions: every department owns at least one aisle; products
    // belong to one aisle and inherit its department
    val aisleDept = Array.tabulate(Aisles)(a => if (a < Departments.size) a + 1
      else 1 + rng.nextInt(Departments.size))
    val productAisle = Array.fill(Products)(1 + rng.nextInt(Aisles))
    val productName = Array.tabulate(Products)(p =>
      s"${Words(rng.nextInt(Words.size))} ${Words(rng.nextInt(Words.size))} ${p + 1}")
    // Zipf popularity over a seeded permutation of product ids
    val byRank = permutation(rng, Products)
    val cdf = new Array[Double](Products)
    var acc = 0.0
    for (r <- 0 until Products) { acc += math.pow(r + 1.0, -ZipfExponent); cdf(r) = acc }
    def zipfProduct(): Int = {
      val u = rng.nextDouble() * acc
      var lo = 0; var hi = Products - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      byRank(lo) + 1
    }

    val ordersPerUser = Array.fill(users)(math.min(100, 4 + geometric(rng, 12.6)))
    val orderIds = permutation(rng, ordersPerUser.sum).map(_ + 1)
    val orders = Vector.newBuilder[OrderRow]
    val lines = mutable.ArrayBuilder.make[Line]
    var next = 0
    for (u <- 0 until users) {
      val history = mutable.ArrayBuffer.empty[Int]
      val seen = mutable.HashSet.empty[Int]
      val n = ordersPerUser(u)
      for (k <- 1 to n) {
        val evalSet = if (k < n) "prior" else if (rng.nextDouble() < TrainShare) "train" else "test"
        val days = if (k == 1) None else Some(daysSincePrior(rng))
        val row = OrderRow(orderIds(next), u + 1, evalSet, k,
          weighted(rng, DowWeights), weighted(rng, HourWeights), days)
        next += 1
        orders += row
        if (evalSet != "test") {
          val basket = math.min(145, 1 + geometric(rng, 9.1))
          val inBasket = mutable.LinkedHashSet.empty[Int]
          var attempts = 0
          while (inBasket.size < basket && attempts < basket * 20) {
            attempts += 1
            inBasket += (if (history.nonEmpty && rng.nextDouble() < HistoryPick)
              history(rng.nextInt(history.size)) else zipfProduct())
          }
          var cart = 0
          for (p <- inBasket) {
            cart += 1
            lines += Line(row.orderId, p, cart, if (seen.contains(p)) 1 else 0, evalSet == "train")
          }
          for (p <- inBasket if seen.add(p)) history += p
        }
      }
    }
    // files are sorted by (order_id, add_to_cart_order) as the reference's are
    val sorted = lines.result().sortBy(l => (l.orderId.toLong << 8) | l.cart)
    // planted duplicates: a copy of an existing line, scanned again later
    // in the cart, so the dedup tie-break keeps the original
    val planted = math.round(sorted.length * DuplicateRate).toInt
    val dupOf = mutable.HashSet.empty[Int]
    while (dupOf.size < planted) dupOf += rng.nextInt(sorted.length)
    val withDups = sorted.indices.flatMap { i =>
      val l = sorted(i)
      if (dupOf.contains(i)) Seq(l, l.copy(cart = l.cart + 1000)) else Seq(l)
    }.toArray
    Generated(users, orders.result(), withDups, planted.toLong, aisleDept, productAisle, productName)
  }

  final case class Line(orderId: Int, productId: Int, cart: Int, reordered: Int, train: Boolean)

  final case class Generated(users: Int, orders: Vector[OrderRow], lines: Array[Line],
                             plantedDuplicates: Long, aisleDept: Array[Int],
                             productAisle: Array[Int], productName: Array[String]) {
    def reorderShare: Double = lines.count(_.reordered == 1).toDouble / lines.length

    /** Writes orders.csv, order_products_prior.csv, order_products_train.csv,
      * products.csv, aisles.csv and departments.csv under `dir`; returns
      * their total size in bytes. */
    def writeCsvs(dir: File): Long = {
      dir.mkdirs()
      val opHeader = "order_id,product_id,add_to_cart_order,reordered"
      def opLines(train: Boolean) = lines.iterator.filter(_.train == train)
        .map(l => s"${l.orderId},${l.productId},${l.cart},${l.reordered}")
      Seq(
        writeCsv(new File(dir, "orders.csv"),
          "order_id,user_id,eval_set,order_number,order_dow,order_hour_of_day,days_since_prior_order",
          orders.iterator.map(o => s"${o.orderId},${o.userId},${o.evalSet},${o.orderNumber}," +
            s"${o.dow},${o.hour},${o.daysSincePrior.map(d => s"$d.0").getOrElse("")}")),
        writeCsv(new File(dir, "order_products_prior.csv"), opHeader, opLines(train = false)),
        writeCsv(new File(dir, "order_products_train.csv"), opHeader, opLines(train = true)),
        writeCsv(new File(dir, "products.csv"), "product_id,product_name,aisle_id,department_id",
          (0 until Products).iterator.map { p =>
            val a = productAisle(p)
            s"${p + 1},${productName(p)},$a,${aisleDept(a - 1)}"
          }),
        writeCsv(new File(dir, "aisles.csv"), "aisle_id,aisle",
          (1 to Aisles).iterator.map(a => s"$a,aisle $a ${Words(a % Words.size)}")),
        writeCsv(new File(dir, "departments.csv"), "department_id,department",
          Departments.iterator.zipWithIndex.map { case (d, i) => s"${i + 1},$d" })
      ).sum
    }
  }

  /** One changeset plus what a read of the snapshot after it must show. */
  final case class Changeset(rows: Vector[OrderRow], liveRows: Long, probeUser: Int,
                             probeUserRows: Long)

  /** Seeded changesets over `base` for the incremental silver workload.
    * Each holds about `share` × |base| distinct order_ids: half new
    * orders of existing users, half corrections of existing orders (new
    * day, hour and gap), plus ≈2% in-batch exact duplicates. */
  def changesets(base: Vector[OrderRow], seed: Long, count: Int,
                 share: Double): Vector[Changeset] = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val current = mutable.HashMap.empty[Int, OrderRow]
    base.foreach(o => current(o.orderId) = o)
    val keys = mutable.ArrayBuffer.from(base.map(_.orderId))
    val lastNumber = mutable.HashMap.empty[Int, Int]
    base.foreach(o => lastNumber(o.userId) = math.max(lastNumber.getOrElse(o.userId, 0), o.orderNumber))
    val perUser = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    base.foreach(o => perUser(o.userId) += 1)
    val users = lastNumber.keys.toVector.sorted
    var nextId = base.map(_.orderId).max
    val size = math.max(2, math.round(base.size * share).toInt)
    Vector.fill(count) {
      val batch = mutable.ArrayBuffer.empty[OrderRow]
      val touched = mutable.HashSet.empty[Int]
      while (batch.size < size) {
        if (rng.nextBoolean()) {
          val u = users(rng.nextInt(users.size))
          val k = lastNumber(u) + 1
          lastNumber(u) = k
          nextId += 1
          touched += nextId
          keys += nextId
          perUser(u) += 1
          batch += OrderRow(nextId, u, "prior", k, weighted(rng, DowWeights),
            weighted(rng, HourWeights), Some(daysSincePrior(rng)))
        } else {
          val id = keys(rng.nextInt(keys.size))
          if (touched.add(id)) {
            val o = current(id)
            batch += o.copy(dow = weighted(rng, DowWeights), hour = weighted(rng, HourWeights),
              daysSincePrior = o.daysSincePrior.map(_ => daysSincePrior(rng)))
          }
        }
      }
      batch.foreach(o => current(o.orderId) = o)
      val probe = batch(rng.nextInt(batch.size)).userId
      val all = (batch ++ Vector.fill(math.max(1, size / 50))(batch(rng.nextInt(batch.size)))).toArray
      shuffle(rng, all)
      Changeset(all.toVector, current.size.toLong, probe, perUser(probe))
    }
  }

  /** The silver table an engine must hold after `batches`: latest row per
    * order_id over the bootstrap and the changesets, in order. */
  def latestWins(base: Vector[OrderRow], batches: Seq[Changeset]): Map[Int, OrderRow] = {
    val m = mutable.HashMap.empty[Int, OrderRow]
    base.foreach(o => m(o.orderId) = o)
    batches.foreach(_.rows.foreach(o => m(o.orderId) = o))
    m.toMap
  }

  private def writeCsv(f: File, header: String, rows: Iterator[String]): Long = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
      StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(header); w.write('\n')
      rows.foreach { r => w.write(r); w.write('\n') }
    } finally w.close()
    f.length()
  }

  /** Failures before the first success, with the given mean. */
  private def geometric(rng: SplittableRandom, mean: Double): Int = {
    val p = 1.0 / (1.0 + mean)
    (math.log(1.0 - rng.nextDouble()) / math.log(1.0 - p)).toInt
  }

  /** Days since the prior order: weekly and monthly peaks, capped at 30
    * as the reference's column is. */
  private def daysSincePrior(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    if (u < 0.11) 30
    else if (u < 0.25) 7
    else math.min(30, geometric(rng, 9.0))
  }

  private def weighted(rng: SplittableRandom, w: Array[Int]): Int = {
    var r = rng.nextInt(w.sum)
    var i = 0
    while (r >= w(i)) { r -= w(i); i += 1 }
    i
  }

  private def permutation(rng: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    shuffle(rng, a)
    a
  }

  private def shuffle[A](rng: SplittableRandom, a: Array[A]): Unit =
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
}
