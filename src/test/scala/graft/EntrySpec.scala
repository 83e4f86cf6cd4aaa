package graft

/** Smoke: every registered query runs on sf0.001 and the driver
  * contract invariants hold (entry rows > 0, oracle keys ⊆ query keys).
  */
@graft.tags.Slow
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("each query name comes from exactly one module") {
    // `++` keeps the last of two equal keys, so a name registered twice
    // would shrink the merged map below the modules' summed sizes
    val modules = SparkEntry.modules
    assert(modules.map(_.queries.size).sum === SparkEntry.queries.size)
    assert(SparkEntry.queries.size === 314)
    assert(modules.map(_.oracles.size).sum === SparkEntry.oracleSql.size)
    assert(SparkEntry.oracleSql.size === 303)
  }

  test("approx_count_distinct (rows-only query) is within 5% of exact") {
    val exact = graft.queries.Relational.a13DistinctCounts(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.queries.Relational.a14ApproxDistinct(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n < 0.05, s"$k: $n vs ${approx(k)}")
    }
  }

  test("no query output schema carries Decimal/Array/Map/Struct at the edge") {
    // The driver's canonicalizer stringifies Decimals by their scale
    // ('1.000000' vs float '1.0') and sorts RAW values (crashes on
    // arrays) — so the repo-wide edge convention is: round-then-cast
    // DOUBLE for fractional numbers, to_json for nested values.
    // r7 proved the convention slips by habit (5 violations shipped);
    // this pins it mechanically for every registered query.
    import org.apache.spark.sql.types._
    def bad(dt: DataType): Boolean = dt match {
      case _: DecimalType | _: ArrayType | _: MapType | _: StructType => true
      // float32 at the edge stringifies as its shortest FLOAT repr,
      // which differs from the oracle's DOUBLE repr of the same value
      case FloatType => true
      case _ => false
    }
    val violations = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      fn(spark, sf).schema.fields.collect {
        case f if bad(f.dataType) => s"$name.${f.name}: ${f.dataType.sql}"
      }
    }
    assert(violations.isEmpty,
      s"edge-type convention violations:\n${violations.mkString("\n")}")
  }

  test("every query runs and returns a non-degenerate schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
      df.count() // executes the plan; throws on analysis/runtime errors
    }
  }

  test("every query is run-to-run deterministic (the tie-break trap)") {
    // the flagship lastsaleprice bug (non-total ordering) surfaced only
    // at sf0.1 — this guards the whole surface: two executions must
    // produce identical canonicalized results.
    // kll1 is the one exception BY CONTRACT: KLL compaction flips
    // coins, so its estimates carry a rank-error bound (SketchSpec)
    // instead of bitwise stability — row count is still checked here.
    val sketchJitter = Set("kll1_quantile_rollup")
    def canon(name: String): Seq[String] = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect().map(_.toString).sorted.toSeq
    }
    SparkEntry.queries.keys.foreach { name =>
      if (sketchJitter(name))
        assert(canon(name).length === canon(name).length, s"row count unstable: $name")
      else
        assert(canon(name) === canon(name), s"nondeterministic: $name")
    }
  }
}
