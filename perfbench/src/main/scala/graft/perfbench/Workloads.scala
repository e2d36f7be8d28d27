package graft.perfbench

import java.io.File
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.layers.{IncrementalSilver, Medallion}
import graft.quality.Gates
import graft.sources.{InstacartSchemas, Tables, VersionedTable}

/** The two workloads. Each is a closed loop with one client: set up,
  * then repeat the workload's operation until the measured window ends,
  * checking every output against the generator's own truth. */
object Workloads {
  /** Pipeline inputs: 0.2% of the reference dataset, ~410 users, ~6.6k
    * orders, ~66k order_products lines. A refresh costs ~13-18 s warm and
    * ~27 s cold here against ~26 s warm at 2%: per-job overhead, not
    * data, dominates, and the smaller inputs keep a run near a minute. */
  val PipelineScale = 0.002
  /** Silver orders: 2% of the reference dataset, ~69k orders, so that a
    * 1% changeset (~700 rows) keeps its null share well inside the 7%
    * days_since_prior_order gate. */
  val SilverScale = 0.02
  /** Set-up work that is repeated to report a median. */
  val SetupRepeats = 3

  private def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def sha256(files: Seq[File]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.sortBy(_.getName).foreach { f =>
      md.update(f.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---- pipeline_full ------------------------------------------------------

  private val GoldTables = Seq("fct_orders", "dim_users", "dim_products",
    "mart_dept_performance", "mart_reorder_velocity")
  /** Each refresh reads every gold table back this many times, and every
    * read is a `read_p50_ms` sample: one pass gave five samples of five
    * different tables, and their median varied by 16% between runs. */
  private val ReadPasses = 4

  /** Each operation is a full bronze → silver → gold refresh of the raw CSVs
    * into an empty lakehouse, with the benchmark's own dedup and gate calls
    * between silver and gold. */
  def pipelineFull(run: Run): Unit = {
    val spark = run.spark
    // set-up: generate the inputs SetupRepeats times; every copy must be
    // byte-identical
    val gens = (0 until SetupRepeats).map { i =>
      val dir = run.work(s"raw-$i")
      val ((g, bytes), s) = seconds { val g = InstacartGen.generate(run.args.seed, PipelineScale); (g, g.writeCsvs(dir)) }
      (dir, g, bytes, s, sha256(Files.walk(dir)))
    }
    val (raw, gen, rawBytes, _, _) = gens.head
    val genS = Stats.quantile(gens.map(_._4), 0.5)
    val lake = run.work("lake")
    val cfg = Medallion.Config(raw.getPath, s"$lake/bronze", s"$lake/silver", s"$lake/gold")
    val orders = gen.orders.size.toLong
    val lines = gen.lines.length.toLong
    run.facts ++= Seq("users" -> gen.users, "orders" -> orders, "order_products" -> lines,
      "planted_duplicates" -> gen.plantedDuplicates, "reorder_share" -> gen.reorderShare,
      "first_order_share" -> gen.users.toDouble / orders, "raw_csv_bytes" -> rawBytes,
      "generate_s" -> gens.map(_._4))
    var firstDigests = Map.empty[String, String]

    def refresh(): Unit = run.op("pipeline_full refresh") {
      Files.delete(lake)
      val (out, s) = seconds(run.tracer.span("pipeline.refresh") {
        val bronze = run.tracer.span("layers.bronze", Seq(new File(cfg.bronzeDir))) {
          Medallion.runBronze(spark, cfg)
        }
        val bronzeOp = Tables.dropBronzeMeta(
          VersionedTable.readParquetDir(spark, s"${cfg.bronzeDir}/order_products"))
        val deduped = run.tracer.span("ops.dedup") {
          graft.ops.RelationalOps.dedupFirst(bronzeOp, Seq("order_id", "product_id"),
            Seq(col("add_to_cart_order"))).count()
        }
        val silver = run.tracer.span("layers.silver", Seq(new File(cfg.silverDir))) {
          Medallion.runSilver(spark, cfg)
        }
        val sOrders = VersionedTable.readParquetDir(spark, s"${cfg.silverDir}/orders")
        val sOp = VersionedTable.readParquetDir(spark, s"${cfg.silverDir}/order_products")
        val (profiled, nullRates) = run.tracer.span("quality.profile") {
          Gates.profile(sOrders, Seq("order_id", "user_id", "order_number", "order_dow",
            "order_hour_of_day", "days_since_prior_order"))
        }
        val dupRate = run.tracer.span("quality.dup_rate") {
          Gates.checkDuplicateRate(sOp, Seq("order_id", "product_id"), cfg.duplicateRate)
        }
        val orphanRate = run.tracer.span("quality.ref_integrity") {
          Gates.checkReferentialIntegrity(sOp, "order_id", sOrders, "order_id")
        }
        val gold = run.tracer.span("layers.gold", Seq(new File(cfg.goldDir))) {
          Medallion.runGold(spark, cfg)
        }
        (bronze, deduped, silver, profiled, nullRates, dupRate, orphanRate, gold)
      })
      val (bronze, deduped, silver, profiled, nullRates, dupRate, orphanRate, gold) = out
      run.opMs += s * 1e3
      val planted = gen.plantedDuplicates
      run.expect(bronze("orders") == orders, s"bronze orders ${bronze("orders")} != $orders")
      run.expect(bronze("order_products") == lines,
        s"bronze order_products ${bronze("order_products")} != $lines")
      val dropped = bronze("order_products") - silver("order_products")
      run.expect(dropped == planted, s"silver dropped $dropped lines, planted $planted")
      run.expect(deduped == lines - planted, s"dedupFirst kept $deduped, expected ${lines - planted}")
      val drift = dropped.toDouble / bronze("order_products")
      run.expect(drift < 0.001, s"reconciliation drift $drift")
      run.expect(silver("orders") == orders && profiled == orders, s"silver orders ${silver("orders")}")
      run.expect(math.abs(nullRates("days_since_prior_order") - gen.users.toDouble / orders) < 1e-12,
        s"days_since_prior_order null rate ${nullRates("days_since_prior_order")}")
      run.expect(dupRate == 0.0, s"silver duplicate rate $dupRate")
      run.expect(orphanRate == 0.0, s"orphan rate $orphanRate")
      for (_ <- 0 until ReadPasses; t <- GoldTables) {
        val (n, readS) = seconds(run.tracer.span("sources.read_latest") {
          VersionedTable.readLatest(spark, s"${cfg.goldDir}/$t").count()
        })
        run.readMs += readS * 1e3
        run.expect(gold.get(t).contains(n), s"gold $t read back $n rows, wrote ${gold.get(t)}")
      }
      val digests = GoldTables.map { t =>
        run.expect(gold.getOrElse(t, 0L) > 0L, s"gold $t is empty")
        t -> Digest.of(VersionedTable.readLatest(spark, s"${cfg.goldDir}/$t"))
      }.toMap
      if (firstDigests.isEmpty) {
        firstDigests = digests
        Digest.agreeWithEarlierRuns(run, s"pipeline_full-${run.args.seed}", digests)
        val departments = spark.read.parquet(s"${cfg.silverDir}/departments").count()
        run.expect(departments == InstacartGen.Departments.size, s"$departments departments")
        run.facts ++= Seq("gold_rows" -> gold, "gold_digests" -> digests)
      } else for (t <- GoldTables)
        run.expect(digests(t) == firstDigests(t), s"gold $t digest changed between refreshes")
      run.metric("stored_bytes_ratio", Files.bytesUnder(lake).toDouble / rawBytes, "ratio")
    }

    gens.drop(1).foreach(g => Files.delete(g._1))
    run.op("pipeline_full inputs repeat")(
      run.expect(gens.map(_._5).distinct.size == 1, "one seed gave different CSV bytes"))
    // the first refresh in a JVM pays class loading, code generation and
    // JIT compilation (about twice a warm refresh): it is set-up
    val (_, warmS) = seconds(refresh())
    run.opMs.clear(); run.readMs.clear()
    run.startMeasuring(genS + warmS)
    run.tracer.span("run.measure") { while (run.inWindow) refresh() }
  }

  // ---- silver_incremental -------------------------------------------------

  /** Changesets of ≈1% of the orders each; more are generated than a run
    * can apply. */
  private val Changesets = 200
  /** Merges keep getting faster for about 15 changesets as the JIT compiles
    * the planner and commit path (~2.5 s, then ~1.1 s, settling near
    * 0.7 s on 4 cores); measuring earlier merges made the median depend on
    * how far the warm-up had come. */
  private val WarmChangesets = 16
  private val StoredAt = 5

  private def ordersFrame(run: Run, rows: Seq[OrderRow]): DataFrame =
    run.spark.createDataFrame(java.util.Arrays.asList(rows.map(o => Row(o.orderId, o.userId,
      o.evalSet, o.orderNumber, o.dow, o.hour,
      o.daysSincePrior.map(d => java.lang.Float.valueOf(d.toFloat)).orNull)): _*),
      InstacartSchemas.orders)

  /** Bootstrap silver orders once, then merge seeded changesets through
    * `IncrementalSilver.applyIncrement`; after each commit, read the latest
    * snapshot back (a full count and a user_id point filter). */
  def silverIncremental(run: Run): Unit = {
    val spark = run.spark
    val gens = (0 until SetupRepeats).map { _ =>
      seconds {
        val g = InstacartGen.generate(run.args.seed, SilverScale)
        (g.orders, InstacartGen.changesets(g.orders, run.args.seed, Changesets, 0.01))
      }
    }
    val ((base, batches), _) = gens.head
    val genS = Stats.quantile(gens.map(_._2), 0.5)
    val root = run.work("silver_orders")
    val cfg = Medallion.Config("", "", "", "")
    run.facts ++= Seq("bootstrap_orders" -> base.size, "changeset_rows" -> batches.head.rows.size,
      "generate_s" -> gens.map(_._2))

    var applied = 0
    var version = 0L
    def increment(): Unit = run.op("silver_incremental merge") {
      val c = batches(applied)
      applied += 1
      val (v, mergeS) = seconds(run.tracer.span("sources.merge", Seq(root)) {
        IncrementalSilver.applyIncrement(spark, root.getPath, ordersFrame(run, c.rows), cfg)
      })
      run.opMs += mergeS * 1e3
      run.expect(v == version + 1, s"merge committed v$v after v$version")
      version = v
      val ((live, probe), readS) = seconds(run.tracer.span("sources.read_latest") {
        val snap = VersionedTable.readLatest(spark, root.getPath)
        (snap.count(), snap.filter(col("user_id") === c.probeUser).count())
      })
      run.readMs += readS * 1e3
      run.expect(live == c.liveRows, s"after changeset $applied: $live rows, expected ${c.liveRows}")
      run.expect(probe == c.probeUserRows,
        s"after changeset $applied: user ${c.probeUser} has $probe rows, expected ${c.probeUserRows}")
      if (applied == StoredAt) storedRatio()
    }

    // bytes under the table root per byte of the live snapshot, taken at a
    // fixed chain length so that it does not depend on the run's speed
    def storedRatio(): Unit = {
      val live = VersionedTable.readLatest(spark, root.getPath).inputFiles
        .map(p => new File(new java.net.URI(p)).length()).sum
      run.metric("stored_bytes_ratio", Files.bytesUnder(root).toDouble / live, "ratio")
    }

    val (_, setupS) = seconds {
      val (_, bootS) = seconds(run.op("silver_incremental bootstrap") {
        version = run.tracer.span("sources.bootstrap", Seq(root)) {
          IncrementalSilver.bootstrap(spark, root.getPath, ordersFrame(run, base), cfg)
        }
      })
      run.facts += "bootstrap_s" -> bootS
      (0 until WarmChangesets).foreach(_ => increment())
    }
    run.facts ++= Seq("warm_op_ms" -> run.opMs.toSeq, "warm_read_ms" -> run.readMs.toSeq)
    run.opMs.clear(); run.readMs.clear()
    run.startMeasuring(genS + setupS)
    run.tracer.span("run.measure") {
      while (run.inWindow && applied < batches.size) increment()
    }
    run.op("silver_incremental inputs repeat")(
      run.expect(gens.map(_._1).distinct.size == 1, "one seed gave different orders or changesets"))

    // the final snapshot must equal latest-wins over bootstrap ∪ changesets
    run.op("silver_incremental final snapshot") {
      val truth = InstacartGen.latestWins(base, batches.take(applied))
      val snap = VersionedTable.readLatest(spark, root.getPath)
      val got = snap.select(InstacartSchemas.orders.fieldNames.map(col).toIndexedSeq: _*).collect()
        .map(r => OrderRow(r.getInt(0), r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4),
          r.getInt(5), if (r.isNullAt(6)) None else Some(r.getFloat(6).toInt)))
      run.expect(got.length == truth.size, s"final snapshot has ${got.length} rows, truth ${truth.size}")
      val wrong = got.count(o => !truth.get(o.orderId).contains(o))
      run.expect(wrong == 0, s"$wrong final rows differ from latest-wins truth")
      if (applied < StoredAt) storedRatio()
      run.facts ++= Seq("changesets_applied" -> applied, "final_version" -> version,
        "final_rows" -> got.length, "table_files" -> Files.walk(root).size)
    }
    // the iterative operators are measured by their per-layer counters
    // only, so only traced runs pay for them
    if (run.tracer.enabled) registryPass(run)
  }

  // ---- registry slice (traced silver_incremental runs) -----------------

  /** One registry query per iterative operator whose rounds materialize
    * through local checkpoints: PageRank, ShortestPaths, LabelProp, KMeans
    * with ClusterOps (q_semdedup) and IncrementalDedup. */
  val Slice = Seq("q_pagerank", "q_sssp", "q_lpa", "q_semdedup", "q_dedup_incremental_lsh")

  /** One pass over [[Slice]] on generated tables; each query's result must
    * match earlier runs of the same seed. */
  private def registryPass(run: Run): Unit = {
    val dir = run.work("tables").getPath
    RegistryGen.write(run.spark, dir, run.args.seed)
    val digests = run.tracer.span("registry.pass") {
      Slice.map { q =>
        q -> run.op(q) {
          val d = run.tracer.span(s"registry.$q") {
            Digest.of(graft.SparkEntry.queries(q)(run.spark, dir))
          }
          run.spark.catalog.clearCache()
          d
        }.getOrElse("failed")
      }.toMap
    }
    run.op("registry results repeat across runs")(
      Digest.agreeWithEarlierRuns(run, s"registry-${run.args.seed}", digests))
    run.facts ++= Seq("registry_digests" -> digests)
  }
}
