package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partitioning strategies for repeated large-scale joins (SURVEY.md §4;
  * brief: "co-locate joins via bucketing or pre-partitioning, salting for
  * skew"). These are the knobs a 100 TB deployment turns when the same join
  * key is hit query after query — none of them change results, only plans.
  */
object Partitioning {

  /** Drop a managed table AND its warehouse directory. `saveAsTable` with
    * mode("overwrite") replaces a table the CATALOG knows about, but a
    * fresh JVM's in-memory catalog is empty while the warehouse directory
    * persists on disk — the create then fails with
    * LOCATION_ALREADY_EXISTS. Every build-once index writer calls this
    * first so an index (re)build is idempotent across JVMs, the property
    * a scheduled 100 TB index-refresh job needs. */
  def dropManagedTable(spark: org.apache.spark.sql.SparkSession,
                       table: String): Unit = {
    // SIMPLE default-database names only: the <warehouse>/<name> location
    // derivation below is wrong for qualified names (<wh>/<db>.db/<name>)
    // or a non-default current database — deleting the wrong path would
    // either no-op (leaving the LOCATION_ALREADY_EXISTS failure this
    // function exists to prevent) or destroy unrelated data
    require(!table.contains("."),
      s"dropManagedTable handles simple default-db table names only, got '$table'")
    // prefer the catalog's own location for the registered table; the
    // warehouse-derived path is the fallback for the cross-JVM case where
    // the in-memory catalog has no entry but the directory persists
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val meta =
      if (spark.sessionState.catalog.tableExists(ident))
        Some(spark.sessionState.catalog.getTableMetadata(ident))
      else None
    // EXTERNAL tables: DROP TABLE preserves the data by contract, and this
    // function must honor that — deleting the location would destroy data
    // the catalog only POINTS at (user-owned parquet, a shared lakehouse
    // path). Only a MANAGED table's location is the catalog's to reclaim;
    // for anything else, drop the catalog entry and leave the files.
    val managed = meta.forall(_.tableType ==
      org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED)
    val catalogPath = meta.filter(_ => managed)
      .flatMap(m => Option(m.location).map(u => new org.apache.hadoop.fs.Path(u)))
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (managed) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val path = catalogPath.getOrElse(
        new org.apache.hadoop.fs.Path(wh, table.toLowerCase))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }
  }

  /** Salted equi-join for skewed keys: the big side's hot keys spread over
    * `saltFactor` sub-keys; the small side replicates each row `saltFactor`
    * times so every sub-key finds its match. Results are identical to a
    * plain join; the shuffle's largest partition shrinks by ~saltFactor.
    * (AQE's skew-join handles moderate skew adaptively — explicit salting is
    * for the pathological keys AQE can't split, e.g. a single null-ish
    * tenant receiving half the corpus.) */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltFactor: Int = 8, joinType: String = "inner"): DataFrame = {
    // right/full outer would emit every UNMATCHED small-side row saltFactor
    // times (one per explode-replica) — only join types that never emit
    // unmatched small-side rows preserve plain-join semantics
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti").contains(joinType.toLowerCase),
      s"saltedJoin cannot preserve semantics for joinType=$joinType: " +
      "unmatched replicated small-side rows would duplicate")
    // Deterministic salt from row content, never
    // monotonically_increasing_id: the salt is a join key, and a
    // nondeterministic key re-salts rows differently when a shuffle-fetch
    // failure recomputes only some map tasks — rows silently drop or
    // duplicate. Row-content hashing keeps same-key rows spread across
    // salts (the whole point) while staying stable under retries.
    // hash() rejects MapType (AnalysisException without the legacy conf),
    // so map-typed columns — at any nesting depth — are excluded from the
    // salt input. The join key itself is always hashable (Spark rejects
    // map-typed equi-join keys), so the input is never empty. Known
    // limitation: EXACT full-row duplicates share one salt — determinism
    // under retries and spreading identical rows are mutually exclusive
    // (any per-replica tiebreaker is recompute-unstable); the hot-KEY
    // skew this operator targets is still mitigated.
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType      => true
      case s: StructType   => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType    => hasMap(a.elementType)
      case _               => false
    }
    val saltCols = big.schema.fields.filterNot(f => hasMap(f.dataType)).map(f => col(f.name))
    val saltedBig = big.withColumn("_salt_b",
      pmod(hash(saltCols.toSeq: _*), lit(saltFactor)))
    val saltedSmall = small.withColumn("_salt_s",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedBig.join(saltedSmall,
      saltedBig(key) === saltedSmall(key) &&
        saltedBig("_salt_b") === saltedSmall("_salt_s"), joinType)
      .drop(saltedSmall(key)).drop("_salt_b", "_salt_s")
  }
}
