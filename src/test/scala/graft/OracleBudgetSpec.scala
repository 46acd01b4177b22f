package graft

/** Suite-enforced oracle-cost budget (r16 verdict #4): the r15 round
  * lost its entire correctness artifact because generated oracles
  * cost ~470 s in DuckDB and starved the driver's sweep; the fix
  * (`tools/time_oracles.py` + MATERIALIZED CTEs) was guarded only by
  * a memory-file convention ("run it before round end"). This spec
  * makes the guard structural: every `sbt test` exports the full
  * `SparkEntry.oracleSql` and shells the budget tool against sf0.01
  * with the 15 s per-oracle budget — deleting the budget discipline
  * now fails the build instead of silently zeroing a future round.
  *
  * Cancels (not fails) where python3 + duckdb aren't installed — the
  * tool chain is the driver's, not the library's.
  */
class OracleBudgetSpec extends SparkSpec {

  private def assumeToolchain(tool: String): Unit = {
    import scala.sys.process._
    val probe = try {
      Seq("python3", "-c", "import duckdb").! == 0
    } catch { case _: Throwable => false }
    assume(probe, "python3 + duckdb not available in this environment")
    // the fixture and the tool are external state too — a machine
    // without them should cancel like the missing-python case, not
    // couple every `sbt test` to the driver's layout (r17 advice)
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("/root/testdata/sf0.01")),
      "sf0.01 fixture not present in this environment")
    assume(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(tool)), s"$tool not present in this environment")
  }

  // side-channel oracles (trained IVF / PQ / SQ8 / simhash / BM25 /
  // compression / DSIR / BPE) only exist after their producing query
  // has run — run the producers ONCE at sf0.001 (cheap: only the SQL
  // text matters here; the budget-heavy oracles are the static
  // generated CTE chains, which are always exported)
  private lazy val producersRan: Unit = {
    val producers = Seq(
      "q_dedup_simhash", "q_select_dsir", "q_sim_ivf_trained", "q_sim_ivfpq",
      "q_sim_pq", "q_sim_sq8", "q_text_bm25", "q_text_compression",
      "q_text_bpe_apply", "q_text_bpe_batched", "q_text_unigram_lm",
      "q_text_unigram_ambiguity", "q_text_tokenize_budget")
    producers.foreach { n =>
      SparkEntry.queries(n)(spark, Sf).write.format("noop").mode("overwrite").save()
    }
  }

  test("every exported oracle fits the 15s DuckDB budget at sf0.01 (r15 structural guard)") {
    import scala.sys.process._
    assumeToolchain("/root/repo/tools/time_oracles.py")
    producersRan
    val oracle = SparkEntry.oracleSql
    // every declared query must export an oracle once the producers
    // ran — a new side-channel query missing from the list above
    // fails HERE by name (the r15 starved-export smell, made loud)
    val missing = SparkEntry.queries.keySet -- oracle.keySet
    assert(missing.isEmpty,
      s"queries with no exported oracle (add their producers above if side-channeled): $missing")

    val tmp = java.nio.file.Files.createTempFile("graft-oracle-sql", ".json")
    Verify.writeOracleJson(tmp.toString)
    val out = new StringBuilder
    val code = Process(Seq("python3", "/root/repo/tools/time_oracles.py",
        "/root/testdata/sf0.01", tmp.toString, "15"))
      .!(ProcessLogger(l => { out.append(l).append('\n'); () }))
    java.nio.file.Files.deleteIfExists(tmp)
    assert(code === 0, s"oracle budget exceeded or oracle errors:\n${out.result()}")
  }

  test("every exported oracle's DuckDB result types match the Spark schema (r19 type gate)") {
    import scala.sys.process._
    assumeToolchain("/root/repo/tools/check_types.py")
    producersRan
    // the driver's hash compare is type-sensitive: the NB pair was
    // value-equal but red for two rounds because DuckDB widened
    // sum(BIGINT) to HUGEINT while Spark emitted BIGINT, and the local
    // harness compared values only. This gate DESCRIBEs every exported
    // oracle (plans only — no execution) against the live Spark result
    // schema, so physical-type drift fails `sbt test` instead of a
    // round.
    val oracleJson = java.nio.file.Files.createTempFile("graft-oracle-sql", ".json")
    val schemaJson = java.nio.file.Files.createTempFile("graft-schemas", ".json")
    Verify.writeOracleJson(oracleJson.toString)
    // the schema export executes the federation wire round trips
    // against the in-JVM pg server, whose slot caps come from this
    // session's width (Federated.wireSlots)
    Verify.writeSchemaJson(schemaJson.toString, spark, Sf)
    val out = new StringBuilder
    val code = Process(Seq("python3", "/root/repo/tools/check_types.py",
        "/root/testdata/sf0.01", oracleJson.toString, schemaJson.toString))
      .!(ProcessLogger(l => { out.append(l).append('\n'); () }))
    java.nio.file.Files.deleteIfExists(oracleJson)
    java.nio.file.Files.deleteIfExists(schemaJson)
    assert(code === 0, s"oracle result-type drift:\n${out.result()}")
  }
}
