package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Split-starvation rebalance: unlock CPU parallelism on badly-chunked
  * parquet, but only where it pays.
  *
  * Parquet scan parallelism is bounded by ROW GROUPS, not by
  * `maxPartitionBytes` splits — a split only yields rows when a
  * row-group midpoint falls inside it, so a `coalesce(1)` export or any
  * single-row-group file is read by exactly ONE task no matter how it is
  * sliced, and AQE cannot re-plan a stage that has no exchange. At 100 TB
  * such files routinely arrive from upstream writers; per-byte kernels
  * (regex, shingling, hashing, array math) then serialize on the accident
  * of the file layout (measured 20x on `text_pii` over a one-group corpus).
  *
  * The naive fix — repartition every starved table at load — measurably
  * HURTS scan-bound plans: a round-robin exchange below a partial
  * aggregate replaces a tiny sketch-state shuffle with a full-row shuffle
  * (exact/approx percentile, HLL and drift queries regressed 1.5-3x), and
  * adds a pre-shuffle local sort. So this rule is plan-aware: walking from
  * the root, it tracks whether EXPENSIVE per-row work (UDFs, regex,
  * higher-order array functions, crypto hashes, JSON parsing, this
  * engine's native expressions, or a row-expanding Generate) accumulates
  * between a starved scan and the first exchange-inducing operator
  * (aggregate without expensive map-side expressions, window, sort,
  * distinct, limit — each resets the flag because work above it runs
  * after that exchange anyway). Only a starved leaf with expensive work
  * in its scan stage gets a `Repartition(defaultParallelism)`, injected
  * ABOVE any pushed-down cheap filters so parquet predicate pushdown is
  * preserved and the shuffle carries post-filter rows only; column
  * pruning is re-applied through the injected exchange. A `reb` flag
  * tracks explicit shuffle repartitions already on the path so the rule
  * converges to a single exchange even when the surrounding fixed-point
  * batch pushes an expensive filter back through the injected node.
  *
  * Starvation test (driver-side, metadata-only, cached): fewer files than
  * cores AND fewer row groups than cores AND more than
  * `spark.graft.scan.minSplitMB` (default 24, <=0 disables) compressed
  * bytes per group. Tables with >= cores files skip the footer reads
  * entirely, so a genuinely large (100 TB) table costs one directory
  * listing already done by the file index, never a footer sweep.
  */
case class ScanRebalanceRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val minSplitMB = spark.conf.getOption("spark.graft.scan.minSplitMB")
      .map(_.toDouble).getOrElse(24.0)
    if (minSplitMB <= 0) plan
    else {
      val out = walk(plan, exp = false, reb = false, minSplitMB)
      // this rule runs after the built-in pruning batch, and an injected
      // Repartition hides the scan from PhysicalOperation — re-run
      // column pruning so the narrow Project lands back on the relation
      if (out.fastEquals(plan)) plan
      else org.apache.spark.sql.catalyst.optimizer.ColumnPruning(out)
    }
  }

  private def cores: Int = spark.sparkContext.defaultParallelism

  /** The pushdown-able tower over a starved leaf: consecutive CHEAP
    * deterministic filters (and aliases) directly above a parquet
    * relation. The rebalance exchange is injected ABOVE this tower, not
    * between it and the scan — `PhysicalOperation` cannot collect
    * filters through a `Repartition`, so injecting below the tower
    * would cost the scan its parquet predicate pushdown and shuffle
    * pre-filter rows. */
  private def tower(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
      Some(lr)
    case f: Filter if !expensive(f.condition) && f.condition.deterministic =>
      tower(f.child)
    case s: SubqueryAlias => tower(s.child)
    case _ => None
  }

  /** Expensive-above-scan propagation. `exp` = some ancestor between this
    * node and the nearest exchange boundary does heavy per-row work that
    * would execute inside the scan task. `reb` = an explicit shuffle
    * repartition already sits between here and that boundary, so the
    * scan stage below is already parallel — never inject a second
    * exchange (keeps the rule convergent when the surrounding fixed
    * point batch pushes filters through an injected Repartition). */
  private def walk(
      p: LogicalPlan, exp: Boolean, reb: Boolean, mb: Double): LogicalPlan =
    p match {
      case _ if exp && !reb && tower(p).exists(lr =>
          starved(lr.relation.asInstanceOf[HadoopFsRelation], mb)) =>
        Repartition(cores, shuffle = true, p)
      case lr: LogicalRelation => lr
      case pj: Project =>
        pj.copy(child =
          walk(pj.child, exp || pj.projectList.exists(expensive), reb, mb))
      case f: Filter =>
        f.copy(child = walk(f.child, exp || expensive(f.condition), reb, mb))
      // row expansion: downstream per-row work multiplies inside the scan
      // task even when the generator itself is cheap
      case g: Generate => g.copy(child = walk(g.child, exp = true, reb, mb))
      case s: SubqueryAlias => s.copy(child = walk(s.child, exp, reb, mb))
      case s: Sample => s.copy(child = walk(s.child, exp, reb, mb))
      // typed Dataset ops run opaque per-row lambdas in the scan stage
      case m: MapElements =>
        m.copy(child = walk(m.child, exp = true, reb, mb))
      case m: MapPartitions =>
        m.copy(child = walk(m.child, exp = true, reb, mb))
      case t: TypedFilter => t.copy(child = walk(t.child, exp = true, reb, mb))
      case s: SerializeFromObject =>
        s.copy(child = walk(s.child, exp, reb, mb))
      case d: DeserializeToObject =>
        d.copy(child = walk(d.child, exp, reb, mb))
      case u: Union =>
        u.withNewChildren(u.children.map(walk(_, exp, reb, mb)))
      // partial aggregation evaluates grouping expressions, aggregate
      // FUNCTION INPUTS and FILTER clauses map-side, i.e. inside the
      // scan stage; result projections folded into aggregateExpressions
      // by CollapseProject evaluate post-exchange and must not count
      case a: Aggregate =>
        val aggs = a.aggregateExpressions.flatMap(_.collect {
          case ae: org.apache.spark.sql.catalyst.expressions.aggregate
            .AggregateExpression => ae
        })
        val mapSide = a.groupingExpressions ++
          aggs.flatMap(_.aggregateFunction.children) ++ aggs.flatMap(_.filter)
        a.copy(child =
          walk(a.child, mapSide.exists(expensive), reb = false, mb))
      // a broadcast join streams the big side with no exchange, so work
      // above it still lands in the STREAMED side's scan stage; the
      // build side is materialized through a BroadcastExchange and never
      // executes downstream per-row work, so `exp` resets for a child
      // carrying a broadcast hint (an injected exchange there would be a
      // pure waste before the broadcast). Auto-broadcast without a hint
      // is not visible here; that residual waste is bounded (one
      // round-robin pass of the pruned build columns). For a shuffle
      // join the extra exchange is likewise wasted but bounded. An
      // above-join repartition does not parallelize the scans below it,
      // so `reb` does reset.
      case j: Join =>
        val bl = j.hint.leftHint.exists(_.strategy.exists(
          _ == org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
        val br = j.hint.rightHint.exists(_.strategy.exists(
          _ == org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
        j.withNewChildren(Seq(
          walk(j.left, exp && !bl, reb = false, mb),
          walk(j.right, exp && !br, reb = false, mb)))
      // an explicit shuffle repartition IS the rebalance for everything
      // below it; work above it runs post-exchange
      case r: Repartition =>
        r.copy(child = walk(r.child, exp = false, reb || r.shuffle, mb))
      case r: RepartitionByExpression =>
        r.withNewChildren(Seq(walk(r.child, exp = false, reb = true, mb)))
      // anything else (window, sort, distinct, limit, setops, write):
      // conservatively treat as a boundary — work above it does not run
      // in the scan task, or we cannot tell
      case other =>
        other.withNewChildren(
          other.children.map(walk(_, exp = false, reb = false, mb)))
    }

  /** Per-row work heavy enough that serializing it on one scan task
    * dominates the cost of one round-robin shuffle of the pruned
    * columns. */
  private def expensive(root: Expression): Boolean = root.exists {
    case _: ScalaUDF => true
    case _: HigherOrderFunction => true // transform/filter/aggregate/zip_with
    case _: RLike | _: RegExpExtract | _: RegExpExtractAll |
        _: RegExpReplace => true
    case _: StringSplit | _: SplitPart => true
    case _: Md5 | _: Sha1 | _: Sha2 | _: Crc32 => true
    case _: JsonToStructs | _: GetJsonObject | _: JsonTuple => true
    case _: Levenshtein => true
    // this engine's native expression family (shingles, minhash bands,
    // simhash, stopword hits, cosine, zorder, nfc, ...)
    case e if e.getClass.getName.startsWith("graft.") => true
    case _ => false
  }

  private def starved(fs: HadoopFsRelation, mb: Double): Boolean = {
    val files = fs.location.inputFiles
    if (files.isEmpty || files.length >= cores) return false
    val (groups, bytes) = ScanRebalance.footerStats(spark, files.toSeq)
    groups > 0 && groups < cores &&
      bytes.toDouble / groups > mb * 1024 * 1024
  }
}

object ScanRebalance {

  /** (rowGroups, compressedBytes) of a file set — footer metadata only,
    * cached per (path, length, mtime) fingerprint so an artifact
    * rewritten at the same path (landed indexes under /tmp) never serves
    * stale stats. Only consulted for relations with fewer files than
    * cores, so the status + footer sweep is O(cores) reads worst case.
    * Bounded: streaming appends re-fingerprint every batch, so a
    * long-lived session evicts its oldest fingerprints. */
  private val footerCache =
    new graft.BoundedCache[(Long, Long)](max = 1024, _ => ())

  private[plans] def footerStats(
      spark: SparkSession, files: Seq[String]): (Long, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val parquet = files.sorted.filter(_.endsWith(".parquet"))
    val statuses = parquet.map { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      (path, path.getFileSystem(conf).getFileStatus(path))
    }
    val key = graft.BoundedCache.key(spark, statuses.map { case (p, s) =>
      s"$p:${s.getLen}:${s.getModificationTime}"
    }: _*)
    footerCache.get(key) {
      var groups = 0L
      var bytes = 0L
      statuses.foreach { case (path, status) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(path, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try groups += r.getRowGroups.size()
        finally r.close()
        bytes += status.getLen
      }
      (groups, bytes)
    }
  }

  /** Install on a running session (the `spark.sql.extensions` path
    * injects at build time; this covers sessions built without it).
    * Idempotent within this list; a copy injected via extensions is not
    * visible here, but a duplicate rule is harmless — the `reb` flag
    * makes a second pass a no-op. Synchronized: concurrent loads must
    * not both pass the exists check and append two copies. */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[ScanRebalanceRule]))
      spark.experimental.extraOptimizations = cur :+ ScanRebalanceRule(spark)
  }
}
