package graft

import org.scalatest.funsuite.AnyFunSuite

/** Simulates the driver's t1 smoke: `entry` must work on a session the
  * engine did not configure (no GraftConf call, no extensions) — entry
  * is responsible for its own session prerequisites.
  */
class EntrySpec extends AnyFunSuite {
  test("entry runs on an unconfigured session and returns rows") {
    val bare = SparkFixture.spark.newSession()
    assert(SparkEntry.entry(bare).count() > 0)
  }

  test("every declared query has an oracle") {
    // the driver records a weaker rows-only check for missing oracles;
    // this engine declares none without one
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
  }

  test("README's declared-operator count matches the registry (drift fails the build)") {
    // the README/SURVEY counts drifted for five rounds before r7 synced
    // them by hand (r7 verdict task 7): every prose claim of the query
    // count must now track the registry mechanically, or this fails
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    val claims = """\((\d+) declared operators\)""".r
      .findAllMatchIn(readme).map(_.group(1).toInt).toList
    assert(claims.nonEmpty, "README no longer states the declared-operator count")
    claims.foreach { n =>
      assert(n === SparkEntry.queries.size,
        s"README claims $n declared operators; registry has ${SparkEntry.queries.size}")
    }
    // the oracle-compare claim ("compare (N queries)") must match too
    """compare \((\d+) queries\)""".r.findAllMatchIn(readme).map(_.group(1).toInt).foreach { n =>
      assert(n === SparkEntry.oracleSql.size,
        s"README claims $n oracle queries; registry has ${SparkEntry.oracleSql.size}")
    }
  }

  test("SQL front-end: spark.sql over registered views == the Scala API (r16 VERDICT #8)") {
    // The declared surface must be reachable by a SQL user three ways:
    // (1) ANSI SQL over the registered BASE-table views — the portable
    // subset of the oracle text runs verbatim and matches the declared
    // operator row-for-row; (2) the operator-view layer — any declared
    // query composes relationally under its own name; (3) the injected
    // graft_ native functions resolve in SQL text (the fixture session
    // enables GraftExtensions the documented way).
    val spark = SparkFixture.spark
    val dir = "/root/testdata/sf0.001"
    Sql.registerTables(spark, dir)
    // (1) three representative declared queries whose oracle text is
    // engine-portable ANSI: aggregate, window rank, windowed CTE
    for (name <- Seq("q_agg_q1", "q_win_rank", "q_above_avg")) {
      val viaSql = spark.sql(SparkEntry.oracleSql(name)).collect().map(_.toSeq).toSeq
      val viaApi = SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSeq
      assert(viaApi.nonEmpty, s"$name: vacuous pin")
      assert(viaSql === viaApi, s"$name: spark.sql result diverges from the Scala API")
    }
    // (2) operator views: a declared operator queried and composed in SQL
    Sql.registerQueries(spark, dir, Set("q_dedup_near"))
    val top = spark.sql(
      "SELECT count(*) AS n, max(n_union) AS mx FROM q_dedup_near WHERE shared * 10 >= n_union * 6")
      .collect().head
    val api = SparkEntry.queries("q_dedup_near")(spark, dir)
    assert(top.getLong(0) === api.count() && top.getLong(1) ===
      api.agg(org.apache.spark.sql.functions.max("n_union")).head.getLong(0),
      "operator view diverges from the Scala API")
    // (3) native functions resolve from SQL text
    val nfc = spark.sql("SELECT graft_nfc('café') AS s").collect().head.getString(0)
    assert(nfc === "café", "graft_nfc must NFC-compose via spark.sql")
    intercept[IllegalArgumentException] {
      Sql.registerQueries(spark, dir, Set("no_such_query"))
    }
  }

  test("SQL front-end at surface scale: the FULL declared surface registers as views " +
    "and a cross-family sample answers through spark.sql (r17 VERDICT #6)") {
    // registerQueries takes a name filter because view CONSTRUCTION
    // is real work for the few operators that probe data while
    // building plans (k-means centroid reads, the CC fixpoint, BPE
    // merge loops) — but the front-end claim is the whole surface,
    // not 3 representatives. Registering all 205 is bounded by the
    // shared memo caches (graft.operators.SessionMemo), so this
    // must complete and every declared name must resolve as a view;
    // a 5-query cross-family sample is then answered via spark.sql
    // and checked against the Scala API.
    val spark = SparkFixture.spark
    val dir = "/root/testdata/sf0.001"
    Sql.registerTables(spark, dir)
    Sql.registerQueries(spark, dir, SparkEntry.queries.keySet)
    val registered = spark.catalog.listTables().collect().map(_.name).toSet
    val missing = SparkEntry.queries.keySet.filterNot(registered.contains)
    assert(missing.isEmpty, s"declared queries missing from the view catalog: $missing")
    // one per family: relational agg, dedup, ANN, text, curation
    for (name <- Seq("q_agg_q1", "q_dedup_minhash", "q_sim_bucketed",
        "q_lang_id", "q_mix_weights")) {
      val viaSql = spark.sql(s"SELECT * FROM $name").collect().map(_.toSeq).toSeq
      val viaApi = SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSeq
      assert(viaApi.nonEmpty, s"$name: vacuous pin")
      assert(viaSql === viaApi, s"$name: view result diverges from the Scala API")
    }
  }
}
