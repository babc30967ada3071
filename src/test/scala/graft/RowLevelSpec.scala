package graft

import graft.sources.cassandralike._
import org.apache.spark.sql.functions._

/** SQL UPDATE / MERGE INTO / predicate DELETE over the store as DELTA
  * row-level operations: new cells and tombstones, never a rewrite. */
class RowLevelSpec extends SparkSpec {

  private def freshCatalogTable(name: String): Unit = {
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${Seed.storeRoot(sfDir)}/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    spark.sql(s"DROP TABLE IF EXISTS cassandralike.ks.$name")
    spark.sql(
      s"""CREATE TABLE cassandralike.ks.$name
         |  (k BIGINT, bal DOUBLE, seg STRING)
         |USING cassandralike TBLPROPERTIES ('buckets' = '4')""".stripMargin)
    spark.sql(
      s"""INSERT INTO cassandralike.ks.$name VALUES
         |  (1, 10.0, 'a'), (2, 20.0, 'b'), (3, 30.0, 'c'),
         |  (4, 40.0, 'd'), (5, 50.0, 'e')""".stripMargin)
  }

  private def state(name: String): Map[Long, (Option[Double], Option[String])] =
    spark.table(s"cassandralike.ks.$name").collect().map { r =>
      r.getLong(0) -> (
        (if (r.isNullAt(1)) None else Some(r.getDouble(1))),
        (if (r.isNullAt(2)) None else Some(r.getString(2))))
    }.toMap

  test("UPDATE rewrites values, clears to NULL, and leaves others untouched") {
    freshCatalogTable("rl_update")
    spark.sql(
      """UPDATE cassandralike.ks.rl_update
        |SET bal = bal + 100, seg = NULL WHERE k % 2 = 0""".stripMargin)
    val s = state("rl_update")
    assert(s(2L) == (Some(120.0), None) && s(4L) == (Some(140.0), None),
      s"updated rows wrong: $s")
    assert(s(1L) == (Some(10.0), Some("a")) && s(3L) == (Some(30.0), Some("c")),
      s"untouched rows changed: $s")
    assert(s.size == 5)
  }

  test("DELETE with a non-key predicate runs as a distributed delta job") {
    freshCatalogTable("rl_delete")
    spark.sql("DELETE FROM cassandralike.ks.rl_delete WHERE bal >= 30 AND seg <> 'e'")
    val s = state("rl_delete")
    assert(s.keySet == Set(1L, 2L, 5L), s"predicate delete wrong: $s")
    // key-predicate DELETE still takes the metadata fast path and works
    spark.sql("DELETE FROM cassandralike.ks.rl_delete WHERE k = 2")
    assert(state("rl_delete").keySet == Set(1L, 5L))
  }

  test("MERGE INTO: matched update, matched delete, not-matched insert") {
    freshCatalogTable("rl_merge")
    val sp = spark; import sp.implicits._
    Seq((2L, 999.0), (3L, -1.0), (9L, 90.0))
      .toDF("sk", "sbal").createOrReplaceTempView("rl_src")
    spark.sql(
      """MERGE INTO cassandralike.ks.rl_merge t USING rl_src s ON t.k = s.sk
        |WHEN MATCHED AND s.sbal < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bal = s.sbal
        |WHEN NOT MATCHED THEN INSERT (k, bal, seg) VALUES (s.sk, s.sbal, NULL)
        |""".stripMargin)
    val s = state("rl_merge")
    assert(s(2L) == (Some(999.0), Some("b")), s"matched update: $s") // seg kept
    assert(!s.contains(3L), s"matched delete: $s")
    assert(s(9L) == (Some(90.0), None), s"not-matched insert: $s")
    assert(s(1L) == (Some(10.0), Some("a")) && s.size == 5, s"bystanders: $s")
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only columns ride ALTER ADD COLUMN") {
    freshCatalogTable("rl_merge_evolve")
    val sp = spark; import sp.implicits._
    Seq((2L, 222.0, "B", "gold"), (9L, 90.0, "i", "silver"))
      .toDF("k", "bal", "seg", "tier")
      .createOrReplaceTempView("rl_evolve_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO cassandralike.ks.rl_merge_evolve t
        |USING rl_evolve_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val evolved = spark.table("cassandralike.ks.rl_merge_evolve")
    assert(evolved.schema.fieldNames.toSeq == Seq("k", "bal", "seg", "tier"),
      "target must gain the source-only column, in declaration order")
    val rows = evolved.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(3)) None else Some(r.getString(3)))).toMap
    assert(rows(2L).contains("gold"), s"matched update must set the new col: $rows")
    assert(rows(9L).contains("silver"), s"insert must carry the new col: $rows")
    assert(rows(1L).isEmpty && rows(3L).isEmpty,
      s"pre-evolution rows surface NULL for the new col: $rows")
    assert(rows.size == 6)
    // the evolution is the plain ALTER path: a second MERGE without new
    // source columns must not disturb the schema
    spark.sql(
      """MERGE INTO cassandralike.ks.rl_merge_evolve t
        |USING rl_evolve_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET bal = s.bal + 1""".stripMargin)
    assert(spark.table("cassandralike.ks.rl_merge_evolve")
      .schema.fieldNames.length == 4)
  }

  test("MERGE evolution rejects nested additions with the JSON-bridge pointer") {
    // the cell model is flat: a source carrying a STRUCT column cannot
    // evolve the target — the declared capability boundary is a loud
    // rejection that points at the JSON bridge (to_json/from_json, the
    // conn_nested_json shape), never a half-written schema
    freshCatalogTable("rl_merge_nested")
    val sp = spark; import sp.implicits._
    Seq((2L, 222.0, "B", ("gold", 1)))
      .toDF("k", "bal", "seg", "tier")
      .createOrReplaceTempView("rl_nested_src")
    val e = intercept[Exception](spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO cassandralike.ks.rl_merge_nested t
        |USING rl_nested_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("to_json")),
      s"rejection must point at the JSON bridge: ${chain(e)}")
    // the failed evolution left the schema untouched
    assert(spark.table("cassandralike.ks.rl_merge_nested")
      .schema.fieldNames.toSeq == Seq("k", "bal", "seg"))
    // the supported path: the same nested data shipped through the bridge
    Seq((2L, 222.0, "B", """{"name":"gold","rank":1}"""))
      .toDF("k", "bal", "seg", "tier_json")
      .createOrReplaceTempView("rl_nested_json_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO cassandralike.ks.rl_merge_nested t
        |USING rl_nested_json_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(
      """SELECT from_json(tier_json, 'name STRING, rank INT').name
        |FROM cassandralike.ks.rl_merge_nested WHERE k = 2""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("gold"), s"JSON-bridge evolution failed: $got")
  }

  test("update beats an equal-epoch seed: delete leg at ts, insert leg at ts+1") {
    // the delete+insert representation lands one logical tick apart so the
    // tombstone can't eat its own insert; both legs beat older epochs
    freshCatalogTable("rl_ts")
    spark.sql("UPDATE cassandralike.ks.rl_ts SET bal = 7 WHERE k = 1")
    spark.sql("UPDATE cassandralike.ks.rl_ts SET bal = 8 WHERE k = 1")
    assert(state("rl_ts")(1L)._1.contains(8.0))
  }

  test("transposed DML: a SQL row is one cell — update/delete touch only it") {
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${Seed.storeRoot(sfDir)}/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    spark.sql("DROP TABLE IF EXISTS cassandralike.ks.rl_wide")
    spark.sql(
      """CREATE TABLE cassandralike.ks.rl_wide
        |  (row_key STRING, column_name STRING, value BIGINT)
        |USING cassandralike
        |OPTIONS (mapping ':key,:column,:value')
        |TBLPROPERTIES ('buckets' = '2')""".stripMargin)
    spark.sql(
      """INSERT INTO cassandralike.ks.rl_wide VALUES
        |  ('a', 'c1', 1), ('a', 'c2', 2), ('a', 'c3', 3),
        |  ('b', 'c1', 10), ('b', 'c2', 20)""".stripMargin)
    // single-cell UPDATE: only (a, c2) changes
    spark.sql(
      """UPDATE cassandralike.ks.rl_wide SET value = 222
        |WHERE row_key = 'a' AND column_name = 'c2'""".stripMargin)
    // predicate DELETE across rows: every c1 cell goes, nothing else
    spark.sql("DELETE FROM cassandralike.ks.rl_wide WHERE column_name = 'c1'")
    val cells = spark.table("cassandralike.ks.rl_wide").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells == Map(("a", "c2") -> 222L, ("a", "c3") -> 3L,
      ("b", "c2") -> 20L), s"wide-row DML wrong: $cells")
    // MERGE on the composite address: upsert one cell, insert another
    val sp = spark; import sp.implicits._
    Seq(("a", "c3", 333L), ("b", "c9", 99L)).toDF("k", "c", "v")
      .createOrReplaceTempView("rl_wide_src")
    spark.sql(
      """MERGE INTO cassandralike.ks.rl_wide t USING rl_wide_src s
        |ON t.row_key = s.k AND t.column_name = s.c
        |WHEN MATCHED THEN UPDATE SET value = s.v
        |WHEN NOT MATCHED THEN INSERT (row_key, column_name, value)
        |  VALUES (s.k, s.c, s.v)""".stripMargin)
    val after = spark.table("cassandralike.ks.rl_wide").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(after == Map(("a", "c2") -> 222L, ("a", "c3") -> 333L,
      ("b", "c2") -> 20L, ("b", "c9") -> 99L), s"wide-row merge wrong: $after")
  }

  test("fuzz: random UPDATE/DELETE/MERGE interleavings match an in-memory model") {
    val rnd = new scala.util.Random(20260814)
    freshCatalogTable("rl_fuzz")
    // model mirrors the store: key -> (bal, seg); both start from the seed
    val model = scala.collection.mutable.Map[Long, (Option[Double], Option[String])](
      1L -> (Some(10.0), Some("a")), 2L -> (Some(20.0), Some("b")),
      3L -> (Some(30.0), Some("c")), 4L -> (Some(40.0), Some("d")),
      5L -> (Some(50.0), Some("e")))
    val sp = spark; import sp.implicits._
    (1 to 12).foreach { round =>
      rnd.nextInt(3) match {
        case 0 => // UPDATE bal for a random key-mod class
          val m = 1 + rnd.nextInt(4)
          val delta = rnd.nextInt(50).toDouble
          spark.sql(s"UPDATE cassandralike.ks.rl_fuzz SET bal = bal + $delta " +
            s"WHERE k % ${m + 1} = $m")
          model.keys.toSeq.filter(_ % (m + 1) == m).foreach { k =>
            val (b, s0) = model(k)
            model(k) = (b.map(_ + delta), s0)
          }
        case 1 => // DELETE by a value predicate
          val cut = 10.0 + rnd.nextInt(200)
          spark.sql(s"DELETE FROM cassandralike.ks.rl_fuzz WHERE bal > $cut")
          model.filterInPlace { case (_, (b, _)) => !b.exists(_ > cut) }
        case 2 => // MERGE: update half the source keys, insert the rest
          val srcKeys = Seq.fill(1 + rnd.nextInt(4))(1L + rnd.nextInt(12)).distinct
          val v = rnd.nextInt(100).toDouble
          srcKeys.map(k => (k, v)).toDF("sk", "sv")
            .createOrReplaceTempView("rl_fuzz_src")
          spark.sql(
            """MERGE INTO cassandralike.ks.rl_fuzz t USING rl_fuzz_src s
              |ON t.k = s.sk
              |WHEN MATCHED THEN UPDATE SET bal = s.sv
              |WHEN NOT MATCHED THEN INSERT (k, bal, seg) VALUES (s.sk, s.sv, 'ins')
              |""".stripMargin)
          srcKeys.foreach { k =>
            model(k) = model.get(k) match {
              case Some((_, s0)) => (Some(v), s0)
              case None => (Some(v), Some("ins"))
            }
          }
      }
      val got = state("rl_fuzz")
      assert(got == model.toMap,
        s"round $round diverged:\n store=$got\n model=${model.toMap}")
    }
  }

  test("UPDATE's affected-row scan bucket-prunes on the key predicate") {
    freshCatalogTable("rl_prune")
    // the command's own optimized plan (it executes eagerly, nested in the
    // returned CommandResult) reaches a QueryExecutionListener
    val executed = new java.util.concurrent.LinkedBlockingQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        executed.add(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val scans = try {
      spark.sql("UPDATE cassandralike.ks.rl_prune SET bal = 0 WHERE k = 3")
      var found = Seq.empty[PlannedScan]
      val deadline = System.currentTimeMillis() + 30000L
      while (found.isEmpty && System.currentTimeMillis() < deadline) {
        Option(executed.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS))
          .foreach(qe => found = PlannedScan.all(qe.optimizedPlan))
      }
      found
    } finally spark.listenerManager.unregister(listener)
    assert(scans.nonEmpty, "no store scan under the UPDATE plan")
    scans.foreach { b =>
      assert(b.description.contains("EqualTo(k,3)"),
        s"key predicate not pushed into the DML scan: ${b.description}")
      assert(b.partitions.length <= 1,
        s"key-equality UPDATE must prune to one bucket, got ${b.partitions.length}")
    }
    assert(state("rl_prune")(3L)._1.contains(0.0))
  }

  test("row-level ops are gated off family-map and counter tables") {
    val sp = spark; import sp.implicits._
    val t = Seed.table(spark, sfDir, "rl_gate_t",
      Seq((1L, 2L)).toDF("k", "v"),
      props = Map(Options.CounterMerge -> "true"))
    val meta = CellStore.readMeta(t).get
    val table = new CassandraLikeTable(t, t,
      org.apache.spark.sql.types.StructType.fromDDL(meta.schemaDdl),
      Some(meta.mapping), meta.properties)
    val info = new org.apache.spark.sql.connector.write.RowLevelOperationInfo {
      override def command() =
        org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE
      override def options() =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
    }
    intercept[IllegalArgumentException](table.newRowLevelOperationBuilder(info))
  }
}
