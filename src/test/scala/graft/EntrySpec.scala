package graft

import java.nio.file.{Files, Path, Paths}

import graft.gates.Gate

/** Driver-contract smoke: `entry` must work on a session that did NOT set
  * the nanos conf (the driver builds its own session).
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows on a plain session") {
    val plain = spark.newSession() // fresh SQL conf; Tables sets nanosAsLong
    val rows = SparkEntry.entry(plain).count()
    assert(rows > 0)
  }

  test("the registry rejects a gate name declared twice") {
    val g = Gate("q_twice", (s, dir) => core.Tables.region(s, dir), "SELECT * FROM region")
    val e = intercept[IllegalArgumentException](SparkEntry.distinctNames(Seq(g, g)))
    assert(e.getMessage.contains("duplicate gate names: q_twice"))
  }

  test("no gated query declares an unsortable (array/map/struct) column") {
    // schema-only sweep: building the frame analyzes the plan without
    // running it for most queries; the driver's comparator row-sorts raw
    // cells, so one complex-typed gate column = a guaranteed red row
    // (round 9: q_matrix_tier_smoke / q_agg_tier_bins)
    val offenders = SparkEntry.gates.flatMap { g =>
      val schema = g.query(spark, sf("sf0.001")).schema
      Verify.unsortableCols(schema).map(c => s"${g.name}.$c")
    }
    assert(offenders.isEmpty, s"unsortable gate columns: $offenders")
  }

  test("q_pipeline_clean evaluates the text profile once per document") {
    val plan = SparkEntry.queries("q_pipeline_clean")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    val evals = "text_profile".r.findAllIn(plan).length
    // the aggregation barrier keeps PushDownPredicates from inlining the
    // profile into every filter/projection reference (was 101 evals/row)
    assert(evals <= 2, s"text_profile appears $evals times in the plan")
  }

  test("model-inlining oracles render before their queries run, unchanged after") {
    // a fresh copy of the corpus is a fresh memo key: nothing trained on it yet
    val src = Paths.get(sf("sf0.001"))
    val tmp = Files.createTempDirectory("graft_oracle_first")
    Files.walk(src).forEach { (p: Path) =>
      val to = tmp.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    val dir = tmp.toString
    try {
      val modelGates = Seq("q_ann_ivf", "q_ann_ivf_index", "q_cluster_assign",
        "q_semantic_dedup", "q_embed_pca_proj", "q_pq_encode", "q_ann_pq")

      val first = SparkEntry.oracleSql(spark, dir)
      modelGates.foreach { n =>
        assert(first(n).contains("SELECT * FROM (VALUES"), s"$n does not inline its model")
        assert(!first(n).contains("WHERE 1 = 0"), s"$n rendered a typed-empty oracle")
      }
      assert(first("q_ann_pq").contains("UNION ALL"), "q_ann_pq lacks its ADC query arms")

      modelGates.foreach(n => SparkEntry.queries(n)(spark, dir).collect())
      val after = SparkEntry.oracleSql(spark, dir)
      val original = SparkEntry.oracleSql(spark, sf("sf0.001"))
      modelGates.foreach { n =>
        assert(after(n) == first(n), s"$n oracle changed once its query ran")
        assert(original(n) == first(n), s"$n trained differently on a copy of the corpus")
      }
    } finally {
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    }
  }
}
