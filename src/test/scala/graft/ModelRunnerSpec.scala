package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{MiniYaml, ModelCycleException, ModelRunner,
  ModelTestFailedException}
import graft.util.TempDirs

/** Declarative SQL-file model runner (the dbt analog): parsing of the
  * reference-shaped authoring surface, templating, dependency order,
  * materialization, and the blocking schema-test gate. */
class ModelRunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeProject(files: Seq[(String, String)]): Path = {
    val root = TempDirs.create("mr-spec")
    files.foreach { case (rel, content) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    root
  }

  private val baseProjectYml =
    """name: 'spec_project'
      |vars:
      |  source_schema: mr_src
      |  target_schema: mr_out
      |models:
      |  spec_project:
      |    core:
      |      +materialized: table
      |    views:
      |      +materialized: view
      |""".stripMargin

  private def seedSource(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS mr_src")
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0))
      .toDF("id", "grp", "amount").write.mode("overwrite")
      .saveAsTable("mr_src.raw_rows")
  }

  test("end-to-end: parse, topo-order, materialize tables and views, " +
      "run schema tests") {
    seedSource()
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/base_rows.sql" ->
        """SELECT id, grp, amount
          |FROM {{ var("source_schema") }}.raw_rows
          |""".stripMargin,
      "models/core/schema.yml" ->
        """version: 2
          |models:
          |  - name: base_rows
          |    columns:
          |      - name: id
          |        data_tests:
          |          - unique
          |          - not_null
          |""".stripMargin,
      // ref()-style dependency
      "models/views/grp_totals.sql" ->
        """SELECT grp, CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE)
          |  AS total
          |FROM {{ ref('base_rows') }} GROUP BY grp
          |""".stripMargin,
      // reference-style <target_schema>.<model> dependency
      "models/views/grand_total.sql" ->
        """SELECT CAST(SUM(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS t
          |FROM mr_out.grp_totals
          |""".stripMargin))
    val runs = ModelRunner.run(spark, ModelRunner.loadProject(root))
    assert(runs.map(_.name) == Seq("base_rows", "grp_totals", "grand_total"))
    val byName = runs.map(r => r.name -> r).toMap
    assert(byName("base_rows").materialized == "table")
    assert(byName("grp_totals").materialized == "view")
    assert(byName("grp_totals").deps == Seq("base_rows"))
    assert(byName("grand_total").deps == Seq("grp_totals"))
    // declared tests ran and passed
    assert(byName("base_rows").verdict.exists(_.passed))
    // view chain computes through the table
    assert(spark.table("mr_out.grand_total").as[Double].head() == 60.0)
    // a view model is genuinely virtual (catalog VIEW, not a table)
    assert(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "grp_totals", Some("mr_out"))).tableType ==
      org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW)
  }

  test("failing schema test blocks downstream models") {
    spark.sql("CREATE DATABASE IF NOT EXISTS mr_src")
    Seq((1, 10.0), (1, 20.0)).toDF("id", "amount") // duplicate key
      .write.mode("overwrite").saveAsTable("mr_src.dup_rows")
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/gated.sql" ->
        "SELECT id, amount FROM {{ var(\"source_schema\") }}.dup_rows\n",
      "models/core/schema.yml" ->
        """version: 2
          |models:
          |  - name: gated
          |    columns:
          |      - name: id
          |        data_tests:
          |          - unique
          |""".stripMargin,
      "models/views/downstream_never.sql" ->
        "SELECT COUNT(*) AS n FROM {{ ref('gated') }}\n"))
    val ex = intercept[ModelTestFailedException] {
      ModelRunner.run(spark, ModelRunner.loadProject(root))
    }
    assert(ex.model == "gated")
    assert(!ex.verdict.ruleResults("unique_id"))
    // the gate is blocking: the downstream model never materialized
    assert(!spark.catalog.tableExists("mr_out.downstream_never"))
  }

  test("dependency cycles fail loudly") {
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/views/a.sql" -> "SELECT * FROM {{ ref('b') }}\n",
      "models/views/b.sql" -> "SELECT * FROM {{ ref('a') }}\n"))
    val ex = intercept[ModelCycleException] {
      ModelRunner.run(spark, ModelRunner.loadProject(root))
    }
    assert(ex.cycle.sorted == Seq("a", "b"))
  }

  test("in-file config(materialized=...) overrides the directory default") {
    seedSource()
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/as_view.sql" ->
        """{{ config(materialized='view') }}
          |SELECT id FROM {{ var("source_schema") }}.raw_rows
          |""".stripMargin))
    val runs = ModelRunner.run(spark, ModelRunner.loadProject(root))
    assert(runs.head.materialized == "view")
  }

  test("undeclared vars and unknown templates are rejected") {
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/bad_var.sql" -> "SELECT {{ var('nope') }} AS x\n"))
    val e1 = intercept[IllegalArgumentException] {
      ModelRunner.run(spark, ModelRunner.loadProject(root))
    }
    assert(e1.getMessage.contains("undeclared var 'nope'"))
    val root2 = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/bad_tpl.sql" -> "SELECT 1 AS x {{ source('a','b') }}\n"))
    val e2 = intercept[IllegalArgumentException] {
      ModelRunner.run(spark, ModelRunner.loadProject(root2))
    }
    assert(e2.getMessage.contains("unsupported template"))
  }

  test("incremental model: full first build, then append past the " +
      "high-water mark") {
    spark.sql("CREATE DATABASE IF NOT EXISTS mr_src")
    Seq((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-01-02"))
      .toDF("id", "d").write.mode("overwrite")
      .saveAsTable("mr_src.inc_rows")
    spark.sql("DROP TABLE IF EXISTS mr_out.inc_model")
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/inc_model.sql" ->
        """{{ config(materialized='incremental') }}
          |SELECT id, d FROM {{ var("source_schema") }}.inc_rows
          |{% if is_incremental() %}
          |WHERE id > (SELECT max(id) FROM {{ this }})
          |{% endif %}
          |""".stripMargin))
    val project = ModelRunner.loadProject(root)
    val first = ModelRunner.run(spark, project)
    assert(first.head.materialized == "incremental")
    assert(spark.table("mr_out.inc_model").count() == 3)
    // source grows by one genuinely-new row and one REPLAYED old row;
    // the is_incremental() high-water-mark guard admits only the new
    Seq((4L, "2024-01-03"), (2L, "2024-01-01")).toDF("id", "d")
      .write.mode("append").saveAsTable("mr_src.inc_rows")
    ModelRunner.run(spark, project)
    assert(spark.table("mr_out.inc_model").as[(Long, String)]
      .collect().toSet == Set((1L, "2024-01-01"), (2L, "2024-01-01"),
        (3L, "2024-01-02"), (4L, "2024-01-03")))
  }

  test("incremental insert_overwrite replaces exactly the touched " +
      "partitions, idempotently") {
    spark.sql("CREATE DATABASE IF NOT EXISTS mr_src")
    def seed(rows: Seq[(Long, Double, String)]): Unit =
      rows.toDF("id", "amount", "d").write.mode("overwrite")
        .saveAsTable("mr_src.inc_part_src")
    seed(Seq((1L, 10.0, "2024-01-01"), (2L, 20.0, "2024-01-02")))
    spark.sql("DROP TABLE IF EXISTS mr_out.inc_part_model")
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/inc_part_model.sql" ->
        """{{ config(materialized='incremental',
          |   incremental_strategy='insert_overwrite', partition_by='d') }}
          |SELECT id, amount, d
          |FROM {{ var("source_schema") }}.inc_part_src
          |{% if is_incremental() %}
          |WHERE d >= '2024-01-02'
          |{% endif %}
          |""".stripMargin))
    val project = ModelRunner.loadProject(root)
    ModelRunner.run(spark, project)
    assert(spark.table("mr_out.inc_part_model").count() == 2)
    // source evolves: 01-01 changes (but sits OUTSIDE the incremental
    // window — must keep its original landed value), 01-02 is
    // restated, 01-03 is new
    seed(Seq((1L, 99.0, "2024-01-01"), (2L, 25.0, "2024-01-02"),
      (3L, 30.0, "2024-01-03")))
    ModelRunner.run(spark, project)
    val expected = Set((1L, 10.0, "2024-01-01"), (2L, 25.0, "2024-01-02"),
      (3L, 30.0, "2024-01-03"))
    assert(spark.table("mr_out.inc_part_model").as[(Long, Double, String)]
      .collect().toSet == expected)
    // a rerun of the same window rewrites the same partitions in place
    ModelRunner.run(spark, project)
    assert(spark.table("mr_out.inc_part_model").as[(Long, Double, String)]
      .collect().toSet == expected)
  }

  test("incremental append + partition_by aligns columns by name " +
      "(partition column moves to the END of the table schema)") {
    spark.sql("CREATE DATABASE IF NOT EXISTS mr_src")
    def seed(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("id", "d", "amount").write.mode("overwrite")
        .saveAsTable("mr_src.inc_app_src")
    seed(Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0)))
    spark.sql("DROP TABLE IF EXISTS mr_out.inc_app_model")
    // the SELECT lists the partition column `d` in the MIDDLE; the
    // first build's partitionBy moves it to the end of the table
    // schema, so a positional insert would land `amount` under `d`
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/inc_app_model.sql" ->
        """{{ config(materialized='incremental', partition_by='d') }}
          |SELECT id, d, amount
          |FROM {{ var("source_schema") }}.inc_app_src
          |{% if is_incremental() %}
          |WHERE id > (SELECT max(id) FROM {{ this }})
          |{% endif %}
          |""".stripMargin))
    val project = ModelRunner.loadProject(root)
    ModelRunner.run(spark, project)
    // table schema really does end with the partition column
    assert(spark.table("mr_out.inc_app_model").columns.last == "d")
    seed(Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0),
      (3L, "2024-01-03", 30.0)))
    ModelRunner.run(spark, project)
    assert(spark.table("mr_out.inc_app_model")
      .select($"id", $"d", $"amount").as[(Long, String, Double)]
      .collect().toSet == Set((1L, "2024-01-01", 10.0),
        (2L, "2024-01-02", 20.0), (3L, "2024-01-03", 30.0)))
  }

  // --- on_schema_change (dbt parity): the SELECT's schema drifts
  // between incremental runs; each policy reconciles differently ---

  private def oscProject(selectSql: String, config: String): Path =
    writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/osc_model.sql" ->
        s"""{{ config(materialized='incremental'$config) }}
           |$selectSql FROM {{ var("source_schema") }}.osc_rows
           |{% if is_incremental() %}
           |WHERE id > (SELECT max(id) FROM {{ this }})
           |{% endif %}
           |""".stripMargin))

  private def seedOsc(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS mr_src")
    Seq((1L, "x", 1.5)).toDF("id", "a", "b").write.mode("overwrite")
      .saveAsTable("mr_src.osc_rows")
    spark.sql("DROP TABLE IF EXISTS mr_out.osc_model")
  }

  test("on_schema_change default 'ignore': new SELECT columns are not " +
      "added; a removed column fails loudly") {
    seedOsc()
    ModelRunner.run(spark,
      ModelRunner.loadProject(oscProject("SELECT id, a", "")))
    Seq((2L, "y", 2.5)).toDF("id", "a", "b").write.mode("append")
      .saveAsTable("mr_src.osc_rows")
    ModelRunner.run(spark,
      ModelRunner.loadProject(oscProject("SELECT id, a, b", "")))
    // b was silently NOT added (dbt's documented ignore contract)
    assert(spark.table("mr_out.osc_model").columns.toSeq == Seq("id", "a"))
    assert(spark.table("mr_out.osc_model").as[(Long, String)].collect()
      .toSet == Set((1L, "x"), (2L, "y")))
    // but a column the SELECT stopped producing cannot be ignored
    val err = intercept[IllegalArgumentException] {
      ModelRunner.run(spark,
        ModelRunner.loadProject(oscProject("SELECT id", "")))
    }
    assert(err.getMessage.contains("ignore"))
  }

  test("on_schema_change='append_new_columns' evolves the table; " +
      "history rows read the new column as null") {
    seedOsc()
    val cfg = ", on_schema_change='append_new_columns'"
    ModelRunner.run(spark,
      ModelRunner.loadProject(oscProject("SELECT id, a", cfg)))
    Seq((2L, "y", 2.5)).toDF("id", "a", "b").write.mode("append")
      .saveAsTable("mr_src.osc_rows")
    ModelRunner.run(spark,
      ModelRunner.loadProject(oscProject("SELECT id, a, b", cfg)))
    assert(spark.table("mr_out.osc_model").columns.toSeq ==
      Seq("id", "a", "b"))
    assert(spark.table("mr_out.osc_model")
      .as[(Long, String, Option[Double])].collect().toSet ==
      Set((1L, "x", None), (2L, "y", Some(2.5))))
    // removed columns are kept and null-filled, never dropped
    Seq((3L, "z", 3.5)).toDF("id", "a", "b").write.mode("append")
      .saveAsTable("mr_src.osc_rows")
    ModelRunner.run(spark,
      ModelRunner.loadProject(oscProject("SELECT id, b", cfg)))
    assert(spark.table("mr_out.osc_model")
      .as[(Long, Option[String], Option[Double])].collect().toSet ==
      Set((1L, Some("x"), None), (2L, Some("y"), Some(2.5)),
        (3L, None, Some(3.5))))
  }

  test("on_schema_change='sync_all_columns' adds new and drops removed " +
      "columns, metadata-only") {
    seedOsc()
    val cfg = ", on_schema_change='sync_all_columns'"
    ModelRunner.run(spark,
      ModelRunner.loadProject(oscProject("SELECT id, a", cfg)))
    Seq((2L, "y", 2.5)).toDF("id", "a", "b").write.mode("append")
      .saveAsTable("mr_src.osc_rows")
    ModelRunner.run(spark,
      ModelRunner.loadProject(oscProject("SELECT id, b", cfg)))
    assert(spark.table("mr_out.osc_model").columns.toSeq == Seq("id", "b"))
    // row 1's b reads null (its file predates the column); row 1's a
    // is an orphan column in the old file — simply never read again
    assert(spark.table("mr_out.osc_model").as[(Long, Option[Double])]
      .collect().toSet == Set((1L, None), (2L, Some(2.5))))
  }

  test("--full-refresh drops and rebuilds incremental models from the " +
      "full SELECT; normal runs stay incremental") {
    seedOsc()
    val proj = () => ModelRunner.loadProject(
      oscProject("SELECT id, a", ""))
    ModelRunner.run(spark, proj())
    // rows 'behind' the high-water mark arrive late: an incremental
    // run cannot see them, a full refresh must
    spark.sql("DROP TABLE mr_src.osc_rows")
    Seq((0L, "late", 0.5), (1L, "x", 1.5), (2L, "y", 2.5))
      .toDF("id", "a", "b").write.mode("overwrite")
      .saveAsTable("mr_src.osc_rows")
    ModelRunner.run(spark, proj())
    // incremental: id 0 is invisible (0 > max(id)=1 fails), id 2 lands
    assert(spark.table("mr_out.osc_model").as[(Long, String)].collect()
      .toSet == Set((1L, "x"), (2L, "y")))
    ModelRunner.run(spark, proj(), fullRefresh = true)
    assert(spark.table("mr_out.osc_model").as[(Long, String)].collect()
      .toSet == Set((0L, "late"), (1L, "x"), (2L, "y")))
    // refreshed table keeps working incrementally afterwards
    Seq((3L, "z", 3.5)).toDF("id", "a", "b").write.mode("append")
      .saveAsTable("mr_src.osc_rows")
    ModelRunner.run(spark, proj())
    assert(spark.table("mr_out.osc_model").count() == 4)
  }

  test("on_schema_change='fail' rejects any drift loudly") {
    seedOsc()
    val cfg = ", on_schema_change='fail'"
    ModelRunner.run(spark,
      ModelRunner.loadProject(oscProject("SELECT id, a", cfg)))
    Seq((2L, "y", 2.5)).toDF("id", "a", "b").write.mode("append")
      .saveAsTable("mr_src.osc_rows")
    // no drift: runs fine
    ModelRunner.run(spark,
      ModelRunner.loadProject(oscProject("SELECT id, a", cfg)))
    val err = intercept[IllegalArgumentException] {
      ModelRunner.run(spark,
        ModelRunner.loadProject(oscProject("SELECT id, a, b", cfg)))
    }
    assert(err.getMessage.contains("on_schema_change='fail'"))
    assert(err.getMessage.contains("b"))
    // a typo'd policy is a loud error naming the valid ones, never a
    // silent fallback to ignore
    val bad = intercept[IllegalArgumentException] {
      ModelRunner.run(spark, ModelRunner.loadProject(
        oscProject("SELECT id, a", ", on_schema_change='sync_all'")))
    }
    assert(bad.getMessage.contains("sync_all_columns"))
  }

  test("config(...) blocks are parsed strictly: unknown kwargs and " +
      "unquoted values are loud errors") {
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/bad_kwarg.sql" ->
        "{{ config(materialised='table') }}\nSELECT 1 AS x\n"))
    val e1 = intercept[IllegalArgumentException] {
      ModelRunner.loadProject(root)
    }
    assert(e1.getMessage.contains("unsupported config kwarg 'materialised'"))
    val root2 = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/bad_unquoted.sql" ->
        ("{{ config(materialized='incremental', unique_key=id) }}\n" +
          "SELECT 1 AS id\n")))
    val e2 = intercept[IllegalArgumentException] {
      ModelRunner.loadProject(root2)
    }
    assert(e2.getMessage.contains("unparseable config"))
  }

  test("select runs a named model plus its upstream closure and " +
      "leaves unrelated models untouched") {
    seedSource()
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      // diamond-ish graph: base <- (mid_a, mid_b); top <- mid_a;
      // `loner` is unrelated
      "models/core/sel_base.sql" ->
        "SELECT id, grp, amount FROM {{ var(\"source_schema\") }}.raw_rows\n",
      "models/core/sel_mid_a.sql" ->
        "SELECT grp, COUNT(*) AS n FROM {{ ref('sel_base') }} GROUP BY grp\n",
      "models/core/sel_mid_b.sql" ->
        "SELECT id FROM {{ ref('sel_base') }} WHERE amount > 15\n",
      "models/core/sel_top.sql" ->
        "SELECT COUNT(*) AS groups FROM {{ ref('sel_mid_a') }}\n",
      "models/core/sel_loner.sql" -> "SELECT 1 AS x\n"))
    val project = ModelRunner.loadProject(root)
    Seq("sel_base", "sel_mid_a", "sel_mid_b", "sel_top", "sel_loner")
      .foreach(m => spark.sql(s"DROP TABLE IF EXISTS mr_out.$m"))
    val runs = ModelRunner.run(spark, project, select = Seq("sel_top"))
    // exactly the upstream closure, in dependency order
    assert(runs.map(_.name) == Seq("sel_base", "sel_mid_a", "sel_top"))
    assert(spark.table("mr_out.sel_top").as[Long].head() == 2L)
    // unrelated models were never materialized
    assert(!spark.catalog.tableExists("mr_out.sel_mid_b"))
    assert(!spark.catalog.tableExists("mr_out.sel_loner"))
    // unknown names fail loudly
    val e = intercept[IllegalArgumentException] {
      ModelRunner.run(spark, project, select = Seq("nope"))
    }
    assert(e.getMessage.contains("unknown models: nope"))
  }

  test("MiniYaml parses the reference's actual dbt_project.yml and " +
      "schema.yml shapes") {
    val refRoot = Paths.get("/root/reference/dbt_modeling")
    assume(Files.isDirectory(refRoot), "reference checkout not present")
    val proj = MiniYaml.parse(
      Files.readString(refRoot.resolve("dbt_project.yml")))
    assert(proj.get("name").map(_.str).contains("dbt_modeling"))
    assert(proj.get("vars").flatMap(_.get("source_schema")).map(_.str)
      .contains("deftunes_transform"))
    assert(proj.get("models").flatMap(_.get("dbt_modeling"))
      .flatMap(_.get("serving_layer")).flatMap(_.get("+materialized"))
      .map(_.str).contains("table"))
    val schema = MiniYaml.parse(Files.readString(
      refRoot.resolve("models/serving_layer/schema.yml")))
    val models = schema.get("models").map(_.items).getOrElse(Vector.empty)
    val fact = models.find(_.get("name").map(_.str).contains("fact_session"))
    assert(fact.isDefined)
    val sessionId = fact.get.get("columns").map(_.items)
      .getOrElse(Vector.empty)
      .find(_.get("name").map(_.str).contains("session_id"))
    assert(sessionId.isDefined)
    assert(sessionId.get.get("data_tests").map(_.items.map(_.str))
      .contains(Vector("unique", "not_null")))
  }

  test("threads=1 (strict serial) produces the same runs and tables " +
      "as the default concurrent pool") {
    seedSource()
    val root = writeProject(Seq(
      "dbt_project.yml" -> baseProjectYml,
      "models/core/s1.sql" ->
        """SELECT id, amount FROM {{ var("source_schema") }}.raw_rows
          |""".stripMargin,
      "models/core/s2.sql" ->
        """SELECT id, grp FROM {{ var("source_schema") }}.raw_rows
          |""".stripMargin,
      "models/core/s3.sql" ->
        """SELECT grp, CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE)
          |  AS total
          |FROM {{ var("source_schema") }}.raw_rows GROUP BY grp
          |""".stripMargin,
      "models/views/joined.sql" ->
        """SELECT a.id, b.grp FROM {{ ref('s1') }} a
          |JOIN {{ ref('s2') }} b ON a.id = b.id
          |""".stripMargin))
    def runsOf(): (Seq[(String, String, Seq[String])], Long) = {
      val rs = ModelRunner.run(spark, ModelRunner.loadProject(root))
      (rs.map(r => (r.name, r.materialized, r.deps)),
        spark.table("mr_out.joined").count())
    }
    val pooled = runsOf()
    spark.conf.set("spark.graft.model.threads", "1")
    try {
      val serial = runsOf()
      assert(serial == pooled)
      // three independent table models + the dependent view, in the
      // deterministic topo (lexicographic-among-ready) order both ways
      assert(pooled._1.map(_._1) == Seq("s1", "s2", "s3", "joined"))
    } finally spark.conf.unset("spark.graft.model.threads")
  }
}
