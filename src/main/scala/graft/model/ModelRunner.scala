package graft.model

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.dq.{DqRule, DqVerdict, Dqdl, NotNull, Ruleset, UniqueKey}
import graft.lake.Lake
import graft.util.{DriverPool, Tables}

/** Declarative SQL-file modeling layer — the dbt analog. The
  * reference's serving layer is *authored* as SQL files plus YAML
  * config (reference: dbt_modeling/models/serving_layer/dim_songs.sql:1-7
  * with `{{var("source_schema")}}` templating, dbt_project.yml:24-42
  * for vars + per-directory `+materialized`, schema.yml:10-12,34-36,44-46
  * for declared `unique`/`not_null` column tests), dependency-ordered
  * and materialized by dbt. This runner gives a user of that workflow
  * the same entry point over Spark:
  *
  *  - a models directory (`models/<group>/<name>.sql` + `schema.yml`,
  *    `dbt_project.yml` at the root) parsed with [[MiniYaml]];
  *  - `{{ var("...") }}` / `{{ ref('...') }}` substitution, plus an
  *    in-file `{{ config(materialized='...') }}` override;
  *  - dependencies from `ref()` AND from reference-style
  *    `<target_schema>.<model>` qualified names (the reference's BI
  *    views use the latter, sales_per_artist_vw.sql:5-7);
  *  - deterministic topological order with loud cycle detection;
  *  - `table` models via CTAS ([[Lake.materializeTable]]), `view`
  *    models as catalog views (K7/K8 semantics), `incremental` models
  *    with dbt's is_incremental() protocol, and `snapshot` models —
  *    dbt's SCD2 materialization (`timestamp` strategy) via
  *    [[Scd2.snapshotMerge]];
  *  - declared schema tests compiled to [[Dqdl]] rules and run as a
  *    BLOCKING gate: a failing test halts the run before any
  *    downstream model materializes (the reference's dbt test gate,
  *    dags/deftunes_api_pipeline.py:180-189).
  *
  * Scale shape: the runner itself is driver-side orchestration over a
  * few KB of file metadata; all data movement is the models' own SQL,
  * planned by Catalyst (CTAS writes are fully distributed, views are
  * virtual). Each schema test compiles into Dqdl's single-pass
  * aggregation — one scan per tested model, not per rule.
  */
final case class ModelTestDecl(column: String, test: String)

final case class ModelDef(name: String, group: String, rawSql: String,
    materialized: String, tests: Seq[ModelTestDecl],
    config: Map[String, String] = Map.empty)

final case class ModelProject(name: String, vars: Map[String, String],
    models: Seq[ModelDef])

/** One materialized model: its catalog relation, resolved
  * materialization, upstream models, and the test verdict (None when
  * the model declares no tests). */
final case class ModelRun(name: String, relation: String,
    materialized: String, deps: Seq[String], verdict: Option[DqVerdict])

final class ModelTestFailedException(val model: String,
    val verdict: DqVerdict) extends RuntimeException(
  s"schema tests failed for model '$model': " +
    verdict.ruleResults.filter(!_._2).keys.mkString(", "))

final class ModelCycleException(val cycle: Seq[String])
    extends RuntimeException(
  s"model dependency cycle: ${cycle.mkString(" -> ")}")

object ModelRunner {

  private val VarPat =
    raw"""\{\{\s*var\(\s*['"]([A-Za-z0-9_]+)['"]\s*\)\s*\}\}""".r
  private val RefPat =
    raw"""\{\{\s*ref\(\s*['"]([A-Za-z0-9_]+)['"]\s*\)\s*\}\}""".r
  private val ConfigBlockPat = raw"""\{\{\s*config\(([^)]*)\)\s*\}\}""".r
  private val KwargPat =
    raw"""([A-Za-z_]+)\s*=\s*['"]([^'"]*)['"]""".r
  private val ThisPat = raw"""\{\{\s*this\s*\}\}""".r
  /** dbt's `{% if is_incremental() %} ... {% endif %}` block: kept or
    * dropped at EXECUTION time, once the model's own catalog state is
    * known. */
  private val IfIncPat =
    raw"""(?s)\{%\s*if\s+is_incremental\(\)\s*%\}(.*?)\{%\s*endif\s*%\}""".r
  private val LeftoverPat = raw"""\{\{[^}]*\}\}""".r

  private val Ident = raw"[A-Za-z_][A-Za-z0-9_]*".r

  /** Identifiers land in DDL by interpolation (Spark has no
    * parameterized DDL) — validate them first, like [[Lake.analyze]]. */
  private def checkIdent(kind: String, s: String): String = {
    require(Ident.matches(s), s"$kind '$s' is not a valid identifier")
    s
  }

  /** Config kwargs the runner understands; anything else in a
    * `{{ config(...) }}` block is a loud error rather than a silent
    * semantic downgrade. */
  private val SupportedConfigKeys =
    Set("materialized", "incremental_strategy", "partition_by",
      "unique_key", "updated_at", "strategy", "on_schema_change")

  /** Parse a config block's kwargs strictly: every key must be
    * supported, and the block must contain NOTHING that KwargPat did
    * not consume (an unquoted value like `unique_key=id`, a stray
    * token, or a `)` inside a quoted value that truncated the match
    * would otherwise silently drop semantics). */
  private def parseConfigKwargs(model: String, body: String): Map[String, String] = {
    val kwargs = KwargPat.findAllMatchIn(body)
      .map(k => k.group(1) -> k.group(2)).toVector
    kwargs.foreach { case (k, _) =>
      require(SupportedConfigKeys.contains(k),
        s"model $model: unsupported config kwarg '$k' " +
          s"(supported: ${SupportedConfigKeys.toSeq.sorted.mkString(", ")})")
    }
    val residue = KwargPat.replaceAllIn(body, "").replaceAll("[\\s,]", "")
    require(residue.isEmpty,
      s"model $model: unparseable config(...) content '$residue' — " +
        "kwargs must be key='quoted value' pairs")
    kwargs.toMap
  }

  /** Load a dbt-shaped project: `dbt_project.yml` at `root`, models
    * under `root/models/<group>/`. */
  def loadProject(root: Path): ModelProject = {
    val projFile = root.resolve("dbt_project.yml")
    require(Files.isRegularFile(projFile),
      s"no dbt_project.yml under $root")
    val proj = MiniYaml.parse(Files.readString(projFile))
    val name = proj.get("name").map(_.str).getOrElse("project")
    val vars = proj.get("vars").map(_.mapEntries).getOrElse(Vector.empty)
      .map { case (k, v) => k -> v.str }.toMap
    // per-group +materialized lives under models: <project-name>:
    val groupMat = proj.get("models").flatMap(_.get(name))
      .map(_.mapEntries).getOrElse(Vector.empty)
      .flatMap { case (group, cfg) =>
        cfg.get("+materialized").map(m => group -> m.str)
      }.toMap

    val modelsDir = root.resolve("models")
    require(Files.isDirectory(modelsDir), s"no models/ directory under $root")
    val groups = Files.list(modelsDir).iterator().asScala.toVector
      .filter(Files.isDirectory(_)).sortBy(_.getFileName.toString)
    val models = groups.flatMap { dir =>
      val group = dir.getFileName.toString
      val tests = schemaTests(dir.resolve("schema.yml"))
      Files.list(dir).iterator().asScala.toVector
        .filter(_.getFileName.toString.endsWith(".sql"))
        .sortBy(_.getFileName.toString)
        .map { f =>
          val modelName = f.getFileName.toString.stripSuffix(".sql")
          checkIdent("model name", modelName)
          val raw = Files.readString(f)
          // in-file {{ config(...) }} kwargs; materialized overrides
          // the directory default (dbt precedence)
          val config = ConfigBlockPat.findFirstMatchIn(raw)
            .map(m => parseConfigKwargs(modelName, m.group(1)))
            .getOrElse(Map.empty)
          val mat = config.get("materialized")
            .orElse(groupMat.get(group)).getOrElse("view")
          require(mat == "table" || mat == "view" || mat == "incremental"
              || mat == "snapshot",
            s"model $modelName: unsupported materialization '$mat'")
          // per-materialization key check: a kwarg only SOME
          // materialization reads (unique_key on an incremental,
          // strategy on a table) is a silent semantic downgrade
          // unless rejected here — the parser's loud-error contract
          val allowedFor = mat match {
            case "incremental" =>
              Set("incremental_strategy", "partition_by", "on_schema_change")
            case "snapshot" => Set("unique_key", "updated_at", "strategy")
            case _ => Set.empty[String]
          }
          val stray = config.keySet - "materialized" -- allowedFor
          require(stray.isEmpty, s"model $modelName: config " +
            s"${stray.toSeq.sorted.mkString(", ")} not supported for " +
            s"materialized='$mat'")
          ModelDef(modelName, group, ConfigBlockPat.replaceAllIn(raw, ""),
            mat, tests.getOrElse(modelName, Seq.empty), config)
        }
    }
    val dup = models.groupBy(_.name).collect { case (n, ms) if ms.size > 1 => n }
    require(dup.isEmpty, s"duplicate model names across groups: $dup")
    ModelProject(name, vars, models)
  }

  /** Parse a `schema.yml` subset: model → column → declared tests
    * (`data_tests:` or legacy `tests:`, values `unique` / `not_null`). */
  private def schemaTests(file: Path): Map[String, Seq[ModelTestDecl]] = {
    if (!Files.isRegularFile(file)) return Map.empty
    val doc = MiniYaml.parse(Files.readString(file))
    doc.get("models").map(_.items).getOrElse(Vector.empty).map { m =>
      val modelName = m.get("name").map(_.str).getOrElse(
        throw new IllegalArgumentException(s"$file: model entry without name"))
      val decls = m.get("columns").map(_.items).getOrElse(Vector.empty)
        .flatMap { c =>
          val colName = c.get("name").map(_.str).getOrElse(
            throw new IllegalArgumentException(
              s"$file: column entry without name in model $modelName"))
          val tests = c.get("data_tests").orElse(c.get("tests"))
            .map(_.items).getOrElse(Vector.empty).map(_.str)
          tests.map(t => ModelTestDecl(colName, t))
        }
      modelName -> decls.toSeq
    }.toMap
  }

  /** Render one model's SQL: substitute vars, refs, and `{{ this }}`
    * (the model's own relation — dbt's incremental-filter handle), and
    * return the rendered text plus the dependencies found via `ref()`
    * and via `<target_schema>.<model>` qualified names.
    * `{% if is_incremental() %}` blocks survive rendering verbatim;
    * they resolve at execution time ([[renderIncremental]]), when the
    * model's catalog state is known. */
  private def render(modelName: String, sql: String,
      vars: Map[String, String], knownModels: Set[String],
      targetSchema: String): (String, Set[String]) = {
    val deps = mutable.Set.empty[String]
    val afterVars = VarPat.replaceAllIn(sql, m =>
      vars.getOrElse(m.group(1), throw new IllegalArgumentException(
        s"undeclared var '${m.group(1)}' (project vars: ${vars.keys.mkString(", ")})")))
    val afterThis = ThisPat.replaceAllIn(afterVars,
      s"$targetSchema.$modelName")
    val afterRefs = RefPat.replaceAllIn(afterThis, m => {
      val target = m.group(1)
      require(knownModels.contains(target),
        s"ref('$target') does not name a model in this project")
      deps += target
      s"$targetSchema.$target"
    })
    LeftoverPat.findFirstIn(afterRefs).foreach(t =>
      throw new IllegalArgumentException(s"unsupported template '$t'"))
    // reference-style dependency: the BI views name upstream models as
    // <target_schema>.<model> after var substitution
    // (sales_per_artist_vw.sql:5-7)
    knownModels.foreach { m =>
      if (raw"""(?i)(?<![A-Za-z0-9_.])${java.util.regex.Pattern.quote(targetSchema)}\.$m(?![A-Za-z0-9_])""".r
          .findFirstIn(afterRefs).isDefined)
        deps += m
    }
    (afterRefs, deps.toSet)
  }

  /** Resolve `{% if is_incremental() %} ... {% endif %}` blocks: keep
    * the body when the model is executing incrementally, drop it on
    * the first (full) build. Any other `{% %}` tag is unsupported and
    * fails loudly. */
  private def renderIncremental(sql: String, incremental: Boolean): String = {
    val out = IfIncPat.replaceAllIn(sql, m =>
      if (incremental)
        java.util.regex.Matcher.quoteReplacement(m.group(1))
      else "")
    raw"""\{%[^}]*%\}""".r.findFirstIn(out).foreach(t =>
      throw new IllegalArgumentException(s"unsupported template tag '$t'"))
    out
  }

  /** dbt `on_schema_change` for incremental models: reconcile the
    * increment's schema with the existing target, then align by NAME
    * to the (possibly evolved) table — positional order, target types
    * (a narrower increment up-casts; under ANSI an incompatible type
    * fails loudly — type CHANGES are out of scope, exactly dbt's
    * contract).
    *
    *  - `ignore` (dbt default): new SELECT columns are dropped (never
    *    added to the target); a column the SELECT stopped producing is
    *    a LOUD error — silently null-filling it would be a semantic
    *    downgrade nobody asked for.
    *  - `append_new_columns`: new columns ALTER TABLE ADD COLUMNS
    *    (metadata-only; history rows read null); removed columns stay
    *    and the increment null-fills them.
    *  - `sync_all_columns`: adds new AND drops removed columns in one
    *    catalog data-schema swap (metadata-only on parquet: readers
    *    request the catalog schema, orphan columns in old files are
    *    simply never read). The partition column can never be dropped.
    *  - `fail`: any drift in either direction is a loud error. */
  private def applyOnSchemaChange(spark: SparkSession, model: String,
      relation: String, increment: org.apache.spark.sql.DataFrame,
      policy: String, partitionBy: Option[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val target = spark.table(relation).schema
    val targetLower = target.map(_.name.toLowerCase).toSet
    val incLower = increment.columns.map(_.toLowerCase).toSet
    val added = increment.schema
      .filterNot(f => targetLower.contains(f.name.toLowerCase))
    val removed = target.map(_.name)
      .filterNot(c => incLower.contains(c.toLowerCase))
    policy match {
      case "ignore" =>
        require(removed.isEmpty, s"model $model: incremental SELECT no " +
          s"longer produces column(s) ${removed.mkString(", ")} of " +
          s"$relation — on_schema_change='ignore' will not fill them " +
          "(use append_new_columns/sync_all_columns, or full-refresh)")
      case "fail" =>
        require(added.isEmpty && removed.isEmpty, s"model $model: schema " +
          s"drift vs $relation (new: [${added.map(_.name).mkString(", ")}]" +
          s", removed: [${removed.mkString(", ")}]) and " +
          "on_schema_change='fail'")
      case "append_new_columns" =>
        if (added.nonEmpty)
          spark.sql(s"ALTER TABLE $relation ADD COLUMNS (" +
            added.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ") +
            ")")
      case "sync_all_columns" =>
        partitionBy.foreach(p => require(
          !removed.exists(_.equalsIgnoreCase(p)),
          s"model $model: cannot drop partition column $p of $relation"))
        if (added.nonEmpty || removed.nonEmpty) {
          val newData = org.apache.spark.sql.types.StructType(
            target.filterNot(f =>
              removed.contains(f.name) ||
                partitionBy.exists(_.equalsIgnoreCase(f.name))) ++ added)
          org.apache.spark.sql.GraftSqlShims
            .alterTableDataSchema(spark, relation, newData)
          spark.catalog.refreshTable(relation)
        }
      case other => throw new IllegalArgumentException(s"model $model: " +
        s"unsupported on_schema_change '$other' (ignore, " +
        "append_new_columns, sync_all_columns, fail)")
    }
    val evolved = spark.table(relation).schema
    increment.select(evolved.map(f =>
      if (incLower.contains(f.name.toLowerCase))
        col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
  }

  /** Deterministic topological order (lexicographic among ready
    * models); throws [[ModelCycleException]] naming the stuck models. */
  private def topoOrder(deps: Map[String, Set[String]]): Seq[String] = {
    val remaining = mutable.Map.from(deps.view.mapValues(mutable.Set.from(_)))
    val out = Vector.newBuilder[String]
    while (remaining.nonEmpty) {
      val ready = remaining.collect { case (n, d) if d.isEmpty => n }
        .toSeq.sorted
      if (ready.isEmpty)
        throw new ModelCycleException(remaining.keys.toSeq.sorted)
      ready.foreach { n =>
        out += n
        remaining.remove(n)
        remaining.values.foreach(_.remove(n))
      }
    }
    out.result()
  }

  private def compileTests(model: String,
      tests: Seq[ModelTestDecl]): Ruleset = {
    val rules: Seq[DqRule] = tests.map {
      case ModelTestDecl(c, "unique") => UniqueKey(c)
      case ModelTestDecl(c, "not_null") => NotNull(c)
      case ModelTestDecl(c, t) => throw new IllegalArgumentException(
        s"model $model, column $c: unsupported schema test '$t'")
    }
    Ruleset(s"${model}_schema_tests", rules)
  }

  /** Run the project: render, order, materialize, and gate. Returns one
    * [[ModelRun]] per materialized model in execution order.
    *
    * `select` is dbt's `--select model+upstream` subsetting for
    * targeted backfills: when non-empty, only the named models AND
    * their transitive upstream closure run — unrelated models are
    * neither materialized nor touched (their existing tables/views
    * stay as-is). Unknown names fail loudly.
    *
    * `fullRefresh` is dbt's `--full-refresh`: every selected
    * incremental model DROPS its table and rebuilds from the full
    * SELECT (`is_incremental()` renders false) — the recovery path
    * after a backfill bug or an incompatible schema change that
    * on_schema_change can't reconcile. Snapshot models are exempt
    * (dbt semantics: version history must survive a refresh). */
  def run(spark: SparkSession, project: ModelProject,
      varOverrides: Map[String, String] = Map.empty,
      select: Seq[String] = Seq.empty,
      fullRefresh: Boolean = false): Seq[ModelRun] = {
    val vars = project.vars ++ varOverrides
    val targetSchema = checkIdent("target_schema",
      vars.getOrElse("target_schema", "default"))
    val byName = project.models.map(m => m.name -> m).toMap
    val known = byName.keySet
    val rendered = project.models.map { m =>
      val (sql, deps) = render(m.name, m.rawSql, vars, known, targetSchema)
      m.name -> ((sql, deps - m.name))
    }.toMap
    val fullOrder = topoOrder(rendered.view.mapValues(_._2).toMap)
    val order = if (select.isEmpty) fullOrder else {
      val unknown = select.filterNot(known.contains)
      require(unknown.isEmpty,
        s"--select names unknown models: ${unknown.mkString(", ")} " +
          s"(project models: ${known.toSeq.sorted.mkString(", ")})")
      // upstream closure: selected models plus everything they depend
      // on, transitively (deps are acyclic — topoOrder above threw on
      // any cycle)
      val closure = mutable.Set.empty[String]
      def visit(n: String): Unit = if (closure.add(n))
        rendered(n)._2.foreach(visit)
      select.foreach(visit)
      fullOrder.filter(closure.contains)
    }

    spark.sql(s"CREATE DATABASE IF NOT EXISTS $targetSchema")

    // an in-memory catalog over a durable warehouse dir can hold an
    // orphan location from a previous session (the catalog forgot the
    // table; its directory survived) — CREATE would collide with
    // LOCATION_ALREADY_EXISTS; clear it first
    def clearOrphanLocation(name: String, relation: String): Unit =
      if (!spark.catalog.tableExists(relation)) {
        val db = spark.sessionState.catalog
          .getDatabaseMetadata(targetSchema)
        val loc = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(db.locationUri), name)
        val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(loc)) fs.delete(loc, true)
      }

    def execOne(name: String): ModelRun = {
      val m = byName(name)
      val (sql, deps) = rendered(name)
      val relation = s"$targetSchema.$name"
      m.materialized match {
        case "table" =>
          clearOrphanLocation(name, relation)
          Lake.materializeTable(spark,
            spark.sql(renderIncremental(sql, incremental = false)), relation)
        case "view" => spark.sql(s"CREATE OR REPLACE VIEW $relation AS " +
          renderIncremental(sql, incremental = false))
        case "incremental" =>
          // dbt incremental semantics: first build runs the FULL select
          // (is_incremental() = false) and creates the table; later
          // runs keep the {% if is_incremental() %} filter — typically
          // `WHERE ts > (SELECT max(ts) FROM {{ this }})` — and land
          // only the increment, by `incremental_strategy`:
          //  - append (default): INSERT INTO, the at-least-once shape;
          //  - insert_overwrite (+ partition_by): replace exactly the
          //    partitions present in the increment — idempotent reruns,
          //    the scale-canonical strategy (Lake.overwritePartitions'
          //    dynamic overwrite prunes untouched partitions).
          // --full-refresh: drop and rebuild from the full SELECT
          if (fullRefresh && spark.catalog.tableExists(relation))
            spark.sql(s"DROP TABLE $relation")
          val exists = spark.catalog.tableExists(relation)
          val body = renderIncremental(sql, incremental = exists)
          if (!exists) {
            clearOrphanLocation(name, relation)
            m.config.get("partition_by") match {
              case Some(p) => spark.sql(body).write.format("parquet")
                .partitionBy(checkIdent("partition_by", p))
                .saveAsTable(relation)
              case None => Lake.materializeTable(spark, spark.sql(body),
                relation)
            }
          } else {
            // dbt on_schema_change: reconcile the SELECT's schema with
            // the existing target BEFORE the strategy write. The
            // resulting frame is aligned to the (possibly evolved)
            // table by NAME — positional order matters because a first
            // build with partition_by moves the partition column to
            // the END of the table schema, so a raw `INSERT INTO t
            // <sel>` would land values in the wrong columns on every
            // incremental run.
            val aligned = applyOnSchemaChange(spark, name, relation,
              spark.sql(body),
              m.config.getOrElse("on_schema_change", "ignore"),
              m.config.get("partition_by"))
            m.config.getOrElse("incremental_strategy", "append") match {
              case "append" =>
                aligned.write.mode("append").insertInto(relation)
              case "insert_overwrite" =>
                val p = m.config.getOrElse("partition_by",
                  throw new IllegalArgumentException(s"model $name: " +
                    "incremental_strategy=insert_overwrite needs partition_by"))
                Lake.overwritePartitions(spark, aligned, relation,
                  checkIdent("partition_by", p))
              case other => throw new IllegalArgumentException(
                s"model $name: unsupported incremental_strategy '$other'")
            }
          }
        case "snapshot" =>
          // dbt snapshot (SCD2, `timestamp` strategy): the model's
          // SELECT is one source snapshot; each run advances the
          // versioned history via Scd2.snapshotMerge. The merged frame
          // READS the table it replaces, so it stages through a temp
          // parquet dir before the overwrite — same files-then-swap
          // discipline as Lake's idempotent rewrites.
          val uk = checkIdent("unique_key", m.config.getOrElse("unique_key",
            throw new IllegalArgumentException(
              s"model $name: materialized='snapshot' needs unique_key")))
          val ua = checkIdent("updated_at", m.config.getOrElse("updated_at",
            throw new IllegalArgumentException(
              s"model $name: materialized='snapshot' needs updated_at")))
          m.config.get("strategy").foreach(st => require(st == "timestamp",
            s"model $name: unsupported snapshot strategy '$st' " +
              "(only 'timestamp')"))
          val fresh = spark.sql(renderIncremental(sql, incremental = false))
          val tsType = fresh.schema(ua).dataType
          if (!spark.catalog.tableExists(relation)) {
            clearOrphanLocation(name, relation)
            Lake.materializeTable(spark, fresh
              .withColumn("dbt_valid_from", org.apache.spark.sql.functions.col(ua))
              .withColumn("dbt_valid_to",
                org.apache.spark.sql.functions.lit(null).cast(tsType)),
              relation)
          } else {
            val merged = Scd2.snapshotMerge(spark.table(relation), fresh,
              uk, ua)
            // stage on the WAREHOUSE filesystem (next to the table),
            // not a driver-local temp dir: on a real cluster the
            // executors writing the staged parquet and the driver
            // reading it back must see the same shared filesystem —
            // /tmp of the driver node is not it
            val db = spark.sessionState.catalog
              .getDatabaseMetadata(targetSchema)
            val stage = new org.apache.hadoop.fs.Path(
              new org.apache.hadoop.fs.Path(db.locationUri),
              s"${name}__snapshot_stage")
            val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
            try {
              merged.write.mode("overwrite").parquet(stage.toString)
              Lake.materializeTable(spark,
                Tables.parquet(spark, stage.toString), relation)
            } finally fs.delete(stage, true)
          }
      }
      val verdict = Option.when(m.tests.nonEmpty) {
        val v = Dqdl.evaluate(spark.table(relation),
          compileTests(name, m.tests))
        if (!v.passed) throw new ModelTestFailedException(name, v)
        v
      }
      ModelRun(name, relation, m.materialized, deps.toSeq.sorted, verdict)
    }

    // Execution: models run on a small driver thread pool, gated on
    // their dependencies' COMPLETION (materialization + blocking
    // tests) — dbt's own `threads` concurrency: the serial loop left the
    // cluster idle through every model's driver-side DDL/commit/gate
    // window while sibling models had runnable work (measured
    // q_model_runner: 1.7 s of serialized between-job driver gaps). A
    // model materializes only after every upstream model's tests
    // passed, so a failing test still halts everything downstream;
    // independent siblings in flight when a test fails complete
    // (exactly dbt's behavior). threads=1 keeps the strict serial order.
    val threads = spark.conf.get("spark.graft.model.threads", "4").toInt
    // deps outside `order` (unselected) do not gate — --select semantics
    DriverPool.gated(threads, order)(rendered(_)._2.toSeq)(execOne)
  }
}
