package graft.sources

import java.nio.charset.StandardCharsets
import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsDynamicOverwrite, SupportsOverwrite, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{AlwaysTrue, And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SerializableHadoopConf

/**
 * `graft`: a DataSource V2 **TableCatalog** — a minimal manifest-committed table
 * format (the Delta/Iceberg idea reduced to its observable core) registered as a
 * catalog plugin:
 *
 * {{{
 *   spark.sql.catalog.graft      = graft.sources.GraftCatalog
 *   spark.sql.catalog.graft.root = /some/dir
 * }}}
 *
 * Layout per table: `root/<table>/gen-<g>/…` immutable parquet data written once
 * per commit, plus `manifest-<g>.txt` snapshots listing `(partition → data dir)`
 * entries, plus a `CURRENT` pointer published by atomic temp+rename (the same
 * idiom as [[AuditBatchWrite.commit]]). Readers resolve CURRENT once and then
 * read only immutable files — snapshot isolation without locks. Old manifests
 * are never deleted, so every generation stays queryable:
 * `SELECT … FROM graft.t VERSION AS OF 2` (TableCatalog.loadTable(ident, version)).
 *
 * Write modes (all through the table's WriteBuilder, so `INSERT INTO`,
 * `INSERT OVERWRITE`, and the DataFrameWriterV2 `writeTo(...)` verbs all land
 * here): append (new entries union old), truncate, dynamic partition overwrite
 * (old entries for exactly the partitions present in the batch are replaced —
 * q_write_dpo's semantics as a catalog-level commit), and static
 * `overwrite(filters)` on partition-key equality. A failed write never
 * publishes: data lands in a new `gen-` dir first and only the CURRENT rename
 * makes it visible.
 *
 * Scan path: partition pruning happens against the MANIFEST (pushed partition
 * filters drop entries before any file IO — at 100 TB this is the difference
 * between listing 3 directories and 30 000), per-file min/max statistics
 * collected at write time prune individual FILES a data predicate provably
 * excludes ([[GraftFileStats]] — Delta-style data skipping), and column
 * pruning is pushed into the parquet read. Read execution is NATIVE V2
 * ([[GraftBatchScan]] → [[GraftParquetRead]], Spark's own parquet reader per
 * file slice), which keeps manifest statistics ([[GraftScan.estimateStatistics]])
 * visible to the optimizer; residual row
 * filters are re-applied by Spark above the scan. The WRITE path is native V2
 * ([[GraftWrite]]): Spark clusters rows by partition key, tasks stream through
 * Spark's own ParquetWriteSupport codec, and the driver's commit publishes a
 * file-granular manifest — uncommitted files are invisible by construction.
 * Reference anchor: the reference's Cassandra keyspace is its only "catalog"
 * (consumer/consume_items.py:34-40); this is the lakehouse-native replacement.
 *
 * Concurrent writers are SUPPORTED (B177, the Delta optimistic-concurrency
 * protocol): every commit claims its generation by atomic exclusive create of
 * the manifest file ([[GraftManifest.publishCas]]); a loser reloads the
 * winner's snapshot and rebases metadata-only, all in the one retry loop
 * [[GraftManifest.publishNext]], with per-write-mode conflict rules in
 * [[GraftCommitProtocol]] — appends always serialize, replacing writes fail
 * loudly when a concurrent commit touched what they replace.
 */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catName: String = _
  private var root: Path = _

  /** FunctionCatalog surface: the hidden-partitioning transform functions
    * (B237 — bucket, days, truncate) — what lets Spark RESOLVE a transform
    * in this catalog's write distributions (V2ExpressionUtils looks the
    * transform up here; without it every write to a transform-partitioned
    * table fails analysis). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array("bucket", "days", "hours", "months", "years", "truncate")
      .map(Identifier.of(namespace, _))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else if (ident.name().equalsIgnoreCase("truncate")) GraftTruncateFunction
    else if (Set("days", "hours", "months", "years")(ident.name().toLowerCase))
      GraftTemporalFunction(ident.name().toLowerCase)
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  /** CALL-procedure surface (B193, the Iceberg `CALL cat.system.proc(...)`
    * maintenance API): every driver-side maintenance op is SQL-reachable. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the `system` namespace: CALL $catName.system.<proc>(...), got $ident")
    GraftProcedures.load(ident.name(), catName, root.toString)
  }

  private def conf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"catalog '$name' requires spark.sql.catalog.$name.root=<dir>")
    root = new Path(r)
  }
  override def name(): String = catName

  /** "__" is the namespace/name separator in the directory encoding, so a
    * SEGMENT containing it would collide distinct identifiers (`a.b` vs
    * `a__b` share one directory — the second create would refuse with
    * TableAlreadyExists for a DIFFERENT table, and loads would silently
    * serve the other's data) and decode wrongly in listTables. Rejected
    * LOUDLY only where a new binding is minted (create / rename-target);
    * read-side entry points (load / exists / drop / `DROP TABLE IF EXISTS`)
    * treat such an identifier as a table that cannot exist — NoSuchTable or
    * a false/no-op — so metadata hygiene paths never throw on it. */
  private def encodable(ident: Identifier): Boolean =
    (ident.namespace() :+ ident.name()).forall(seg => !seg.contains("__"))

  private def requireEncodable(ident: Identifier): Unit =
    (ident.namespace() :+ ident.name()).foreach(seg =>
      require(!seg.contains("__"),
        s"identifier segment '$seg' contains '__', the catalog's " +
          "namespace separator — rename the table or namespace"))

  private def tableDir(ident: Identifier): Path =
    new Path(root, (ident.namespace() :+ ident.name()).mkString("__"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).filter(_.isDirectory).map { st =>
      val parts = st.getPath.getName.split("__")
      Identifier.of(parts.init, parts.last)
    }.filter(_.namespace().sameElements(namespace))
  }

  override def tableExists(ident: Identifier): Boolean = {
    if (!encodable(ident)) return false
    val dir = tableDir(ident)
    dir.getFileSystem(conf).exists(new Path(dir, "CURRENT"))
  }

  override def loadTable(ident: Identifier): Table = {
    // `t$changes` resolves the CHANGE FEED twin of table t (the Delta
    // `table_changes` / Iceberg metadata-table idiom): a streaming-only view
    // whose rows are t's row-level changes tagged _change_type /
    // _commit_version — see [[GraftChangesTable]].
    if (ident.name().endsWith("$changes")) {
      val baseIdent = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$changes"))
      if (!tableExists(baseIdent)) throw new NoSuchTableException(baseIdent)
      val dir = tableDir(baseIdent)
      return new GraftChangesTable(baseIdent, dir,
        GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf))
    }
    // `t$history` / `t$files` / `t$partitions` resolve batch-queryable
    // METADATA twin tables (the Iceberg metadata-table surface): driver-side
    // manifest reads only — a SELECT over them is metadata-scale at ANY
    // table size. See [[GraftMetaTable]].
    GraftMetaTable.Kinds.find(k => ident.name().endsWith("$" + k)).foreach { kind =>
      val baseIdent = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$" + kind))
      if (!tableExists(baseIdent)) throw new NoSuchTableException(baseIdent)
      return new GraftMetaTable(baseIdent, tableDir(baseIdent), kind)
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    new GraftTable(ident, dir, GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf))
  }

  /** Time travel: every generation's manifest survives, so any is loadable —
    * by NUMBER, or by a named TAG (B178, `VERSION AS OF 'stable'`): a ref
    * file pinning a generation, created via [[GraftCatalogOps.tag]]. Tagged
    * generations are exempt from VACUUM, so a tag is a durable snapshot
    * handle, not just a name. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    if (!version.forall(_.isDigit)) {
      // Named refs: a live BRANCH head (B195, audit reads in the WAP cycle)
      // resolves first; tags are immutable pins. Creation keeps the two
      // namespaces disjoint, so order is etiquette, not semantics.
      GraftCatalogOps.resolveBranch(dir, version, conf).foreach { bm =>
        return new GraftTable(ident, dir, bm)
      }
    }
    val gen =
      if (version.forall(_.isDigit)) version.toLong
      else GraftCatalogOps.resolveTag(dir, version, conf).getOrElse(
        throw new IllegalArgumentException(
          s"no tag or branch '$version' on table ${ident.name()} — " +
            s"known tags: ${GraftCatalogOps.listTags(dir, conf).keys.toSeq.sorted.mkString(", ")}; " +
            s"branches: ${GraftCatalogOps.listBranches(dir, conf).keys.toSeq.sorted.mkString(", ")}"))
    new GraftTable(ident, dir, GraftManifest.load(dir, gen, conf))
  }

  /** `TIMESTAMP AS OF` time travel (B173): resolve to the LARGEST generation
    * committed at or before the requested instant. Commit time is the
    * manifest file's modification time — the atomic publish rename stamps it,
    * so it IS the commit instant (the Delta design: commit-file mtimes drive
    * timestamp resolution; no clock rides the format itself). Spark hands the
    * instant in MICROseconds since epoch. A timestamp before the table
    * existed fails loudly, like a vacuumed version does. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val tsMillis = timestamp / 1000L
    // Cap candidates at the COMMITTED generation: the raw listing also sees a
    // claim whose body never completed (crashed writer) or an in-flight
    // commit — resolving into either would read uncommitted state.
    val committed = GraftManifest.currentGen(dir, conf)
    val candidates = GraftManifest.generations(dir, conf)
      .filter { case (g, mt) => g <= committed && mt <= tsMillis }
    require(candidates.nonEmpty,
      s"no committed snapshot of ${ident.name()} at or before " +
        s"${java.time.Instant.ofEpochMilli(tsMillis)} — the table is newer " +
        "(or VACUUM reclaimed the older generations)")
    new GraftTable(ident, dir, GraftManifest.load(dir, candidates.map(_._1).max, conf))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    requireEncodable(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val partCols = partitions.map { t =>
      def litInt(what: String): Int = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"$what transform needs a literal argument, got $t"))
      t.name match {
        case "identity" => t.references().head.fieldNames().head
        // HIDDEN partitioning transforms (B237): stored as the canonical
        // string (`bucket(n,col)` / `days(col)` / `truncate(w,col)`) — which
        // is also the directory KEY, keeping the whole spec machinery
        // (partValues key sets, specUniform, B232 evolution)
        // transform-transparent.
        case "bucket" =>
          GraftTransforms.BucketT(litInt("bucket"),
            t.references().head.fieldNames().head).canonical
        case "days" | "hours" | "months" | "years" =>
          GraftTransforms.TemporalT(t.name,
            t.references().head.fieldNames().head).canonical
        case "truncate" =>
          GraftTransforms.TruncT(litInt("truncate"),
            t.references().head.fieldNames().head).canonical
        case _ => throw new IllegalArgumentException(
          "graft catalog supports identity, bucket, days/hours/months/years " +
            s"and truncate partitioning only, got $t")
      }
    }
    // Directory-codec types only ([[GraftMicroBatchStream.catalystValue]]):
    // a DOUBLE partition key would silently mis-prune equality filters (the
    // string round-trip never equals the typed literal) and crash the
    // partition re-attach — reject at CREATE, not at first read. Bucket
    // entries validate their source column (present + integral) instead.
    partCols.foreach(GraftTransforms.validate(_, schema))
    val dir = tableDir(ident)
    // Persist user table properties (notably `cluster` / `cluster.parts`, the
    // write-clustering knobs GraftWrite reads) into the manifest.
    val keep = properties.asScala.filterNot { case (k, _) =>
      k.startsWith("option.") || k == "provider" || k == "owner" || k == "location"
    }.toMap
    keep.get("cluster").foreach(c => require(schema.fieldNames.contains(c),
      s"cluster column $c missing from schema"))
    keep.get("bloom").toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .foreach { c =>
        require(schema.fieldNames.contains(c),
          s"bloom column $c missing from schema")
        require(!c.exists(ch => ch == ':' || ch == ';'),
          s"bloom column name '$c' may not contain ':' or ';' (payload delimiters)")
      }
    keep.get("dml").foreach(v => require(v == "cow" || v == "dv",
      s"dml table property must be cow or dv, got $v"))
    // CHECK constraints (unnamed `check` plus every named `check.<name>`):
    // fail at CREATE on bad SQL / unknown columns / a non-boolean
    // expression — never at first write.
    GraftCheck.declared(keep).foreach { case (_, sql) =>
      GraftCheck.resolve(sql, schema) }
    // Generated columns (B189): declarations fail at CREATE, not first write.
    GraftGenerated.validate(keep, schema)
    // Row/column policies (B233): same fail-at-CREATE posture — bad SQL,
    // unknown columns, a type-changing mask, or a masked partition column.
    // Transform SOURCES count as path columns too: bucket(n,col) bakes
    // floorMod(col) into directory names, readable via `_file`/$files.
    GraftPolicies.validate(keep, schema,
      partCols.toSet ++ GraftTransforms.sources(partCols))
    // Column-mapping props are engine-managed (written by RENAME COLUMN and
    // carried by CLONE) — a user-supplied one would silently re-key stats.
    keep.keys.foreach(k => require(!k.startsWith("physical."),
      s"table property '$k' is reserved for the engine's column mapping"))
    keep.foreach { case (k, v) =>
      require(!(k + v).exists(ch => ch == '\n' || ch == '\t' || ch == '\r'),
        s"table property '$k' contains a control character — " +
          "the line-oriented manifest cannot store it")
    }
    // Column DEFAULTs declared at CREATE (B199): capture each field's folded
    // default into `default.<col>` props; the stored schema stays
    // metadata-free (load re-attaches).
    val declaredDefaults = schema.fields.collect {
      case f if f.metadata.contains("EXISTS_DEFAULT") || f.metadata.contains("CURRENT_DEFAULT") =>
        val sql = if (f.metadata.contains("EXISTS_DEFAULT"))
          f.metadata.getString("EXISTS_DEFAULT") else f.metadata.getString("CURRENT_DEFAULT")
        (GraftDefaults.Prefix + f.name) -> GraftDefaults.fold(sql, f.dataType)
    }.toMap
    // Zone-dependent generation rules get the creating session's timezone
    // pinned (B189 soundness): the invariant is one function, not
    // one-per-writer-zone. A user-supplied `generate.tz.<col>` pin wins.
    val allProps = GraftGenerated.stampZones(keep, schema) ++ declaredDefaults
    val cleanSchema = GraftDefaults.strip(schema)
    val m = GraftManifest(0L, GraftDefaults.attach(cleanSchema, allProps),
      partCols.toSeq, Seq.empty, props = allProps)
    GraftManifest.publish(dir, m, conf)
    new GraftTable(ident, dir, m)
  }

  /** Column DEFAULT DDL is supported (B199): `CREATE/ALTER ... DEFAULT x`
    * reaches the catalog instead of failing analysis. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** Metadata-only schema + property evolution, each ALTER one commit:
    * ADD COLUMN publishes a new generation with a widened schema and
    * untouched entries — existing files simply lack the column and the
    * schema'd parquet read fills it with NULL (zero rewrite, the same trick
    * q_sql_ddl_default pins on the session catalog). SET/UNSET TBLPROPERTIES
    * edits the manifest's property map — the add/drop surface for NAMED CHECK
    * constraints (`check.<name>`, validated against the live schema at ALTER
    * time, like `ALTER TABLE … ADD CONSTRAINT`) and the other table knobs. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    GraftManifest.publishNext(dir, conf) { cur =>
      var schema = cur.schema
      var props = cur.props
      changes.foreach {
        case add: TableChange.AddColumn =>
          require(add.fieldNames().length == 1, "nested columns not supported")
          val colName = add.fieldNames()(0)
          require(!schema.fieldNames.contains(colName),
            s"cannot add $colName: column exists")
          schema = schema.add(colName, add.dataType(), true)
          // Re-ADD after a DROP of the same physical name (B229), or ADD of
          // a name some RENAMEd column still owns physically (rename a→b
          // keeps `physical.b = a` — no tombstone): in both cases existing
          // files CONTAIN bytes under this physical name, and the default
          // physical resolution (logical name itself) would resurrect them
          // as the new column's values — the exact hazard column mapping
          // exists to prevent — while new writes would emit TWO fields
          // sharing one physical name, corrupting footer/stat/bloom keying.
          // A fresh physical name keeps old files answering NULL (existence
          // default) and only post-add writes carry data.
          val takenPhys = schema.fields.filterNot(_.name == colName)
            .map(f => props.getOrElse("physical." + f.name, f.name)).toSet ++
            props.keysIterator.collect {
              case k if k.startsWith("dropped.") => k.stripPrefix("dropped.")
            }
          if (takenPhys(colName)) {
            val fresh = Iterator.from(0)
              .map(i => s"${colName}_g${cur.gen + 1}" + (if (i == 0) "" else s"_$i"))
              .find(n => !takenPhys(n) && n != colName).get
            props = props + (("physical." + colName) -> fresh)
          }
          // ADD COLUMN ... DEFAULT (B199): fold the analyzed constant once at
          // ALTER time and record it — existing files answer it (existence
          // default, zero rewrite), later INSERTs may omit the column.
          Option(add.defaultValue()).foreach { dv =>
            val v2 = dv.getValue()
            require(v2 != null,
              s"DEFAULT for $colName must be a foldable constant, got ${dv.getSql}")
            val lit = org.apache.spark.sql.catalyst.expressions.Literal(
              v2.value(), v2.dataType())
            props = props + ((GraftDefaults.Prefix + colName) ->
              GraftDefaults.fold(lit.sql, add.dataType()))
          }
        case set: TableChange.SetProperty =>
          val (k, v) = (set.property(), set.value())
          require(!(k + v).exists(ch => ch == '\n' || ch == '\t' || ch == '\r'),
            s"table property '$k' contains a control character — " +
              "the line-oriented manifest cannot store it")
          // Column-mapping props are engine-managed (mirrors the createTable
          // guard): a user SET would silently re-key every stat/bloom/read.
          require(!k.startsWith("physical."),
            s"table property '$k' is reserved for the engine's column mapping")
          // Drop tombstones are engine-managed too: forging one would force
          // needless remaps; removing one (below) would let a re-added
          // column resurrect dropped data.
          require(!k.startsWith("dropped."),
            s"table property '$k' is reserved for the engine's drop tombstones")
          // A new/changed CHECK must resolve against the CURRENT schema now,
          // not fail the next write.
          if (k == GraftCheck.Prop || k.startsWith(GraftCheck.Prop + "."))
            GraftCheck.resolve(v, schema)
          // Row/column policies (B233) must resolve NOW, against the current
          // schema, with masks type-preserving and off partition paths.
          if (k == GraftPolicies.FilterProp || k.startsWith(GraftPolicies.MaskPrefix))
            GraftPolicies.validate(Map(k -> v), schema, cur.pathCols)
          // The zone pin is engine-stamped when the declaration is born;
          // a user SET on a table with existing data would bless historical
          // writes made under a different zone.
          require(!k.startsWith(GraftGenerated.TzPrefix),
            s"table property '$k' is engine-managed (generated-column " +
              "timezone pin, stamped when the rule is declared)")
          if (k.startsWith(GraftGenerated.Prefix)) {
            GraftGenerated.validate(props + (k -> v), schema)
            // A SET that REPLACES an existing rule's expression is a NEW
            // declaration: the pin semantics are "stamped when the rule is
            // declared", so the old declaration's zone pin must not survive
            // its rule (stampZones keeps existing stamps verbatim — without
            // this drop, a session re-declaring the rule from another zone
            // would be locked out of its own declaration, and the UNSET
            // path already ties pin lifetime to the rule). A same-expression
            // SET keeps the stamp: nothing was re-declared.
            val col = k.stripPrefix(GraftGenerated.Prefix)
            if (props.get(k).exists(_ != v))
              props = props - (GraftGenerated.TzPrefix + col)
            // A NEWLY-declared zone-dependent rule gets this session's zone
            // pinned (only this declaration — never retro-stamping others).
            props = GraftGenerated.stampZones(props + (k -> v), schema,
              only = Some(col))
          }
          if (k == "bloom") {
            val cols = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
            cols.foreach { c =>
              require(schema.fieldNames.contains(c),
                s"bloom column $c missing from schema")
              require(!c.exists(ch => ch == ':' || ch == ';'),
                s"bloom column name '$c' may not contain ':' or ';' (payload delimiters)")
            }
            // Legacy raw (un-keyed) payloads are attributed to the FIRST
            // declared bloom column; moving that column while such payloads
            // exist would hand column-a bits to probes on column b — a
            // soundness hole (false prune → silently dropped rows). New
            // writes always key payloads by name, so this only bites
            // pre-column-keyed files: refuse loudly, pointing at OPTIMIZE.
            val oldFirst = props.get("bloom").toSeq.flatMap(_.split(','))
              .map(_.trim).filter(_.nonEmpty).headOption
            val rawPayloads = cur.fileBlooms.values.exists(!_.contains(':'))
            require(!rawPayloads || oldFirst == cols.headOption,
              s"cannot change the first bloom column (${oldFirst.getOrElse("")} " +
                s"-> ${cols.headOption.getOrElse("")}): files in this table " +
                "carry legacy un-keyed bloom payloads owned by the first " +
                "column; run OPTIMIZE to rewrite them first")
          }
          if (k == "cluster")
            require(schema.fieldNames.contains(v),
              s"$k column $v missing from schema")
          if (k == "dml") require(v == "cow" || v == "dv",
            s"dml table property must be cow or dv, got $v")
          props = props + (k -> v)
        case rm: TableChange.RemoveProperty =>
          // UNSET of an engine-written column mapping would re-key reads to
          // the wrong physical parquet column (all-NULL results) and mis-key
          // stat/bloom pruning — refuse, mirroring the SET guard.
          require(!rm.property().startsWith("physical."),
            s"table property '${rm.property()}' is reserved for the " +
              "engine's column mapping")
          require(!rm.property().startsWith("dropped."),
            s"table property '${rm.property()}' is reserved for the " +
              "engine's drop tombstones")
          // Zone pins live and die with their declaration: dropping the
          // rule drops the pin; unsetting a pin alone (writers then free to
          // enforce per-zone variants over pinned-era data) is refused.
          require(!rm.property().startsWith(GraftGenerated.TzPrefix),
            s"table property '${rm.property()}' is engine-managed " +
              "(generated-column timezone pin) — unset the " +
              "generate.<col> rule itself to remove it")
          props = props - rm.property()
          if (rm.property().startsWith(GraftGenerated.Prefix))
            props = props - (GraftGenerated.TzPrefix +
              rm.property().stripPrefix(GraftGenerated.Prefix))
        case rn: TableChange.RenameColumn =>
          // COLUMN MAPPING rename (B190): one metadata commit, zero rewrites.
          // The column keeps its PHYSICAL name (what every existing AND
          // future parquet footer, stat, bloom, and NDV sketch is keyed by);
          // only the logical name moves, recorded as `physical.<new>`.
          require(rn.fieldNames().length == 1, "nested columns not supported")
          val from = rn.fieldNames()(0)
          val to = rn.newName()
          require(schema.fieldNames.contains(from),
            s"cannot rename unknown column $from")
          require(!schema.fieldNames.contains(to),
            s"cannot rename $from to $to: column exists")
          // Surfaces addressed by NAME outside the schema refuse the rename
          // loudly instead of silently dangling: partition directories parse
          // the name from paths; bloom/cluster props and CHECK / generated
          // expressions store SQL text referencing it.
          // pathCols, not partCols: after spec evolution (B232) an OLD spec's
          // column still lives in committed partition paths — renaming it
          // would orphan those path values just the same.
          require(!cur.pathCols.contains(from),
            s"cannot rename partition column $from")
          require(!props.get("bloom").toSeq.flatMap(_.split(','))
              .map(_.trim).contains(from),
            s"cannot rename $from: it is one of the table's bloom columns")
          require(!props.get("cluster").contains(from),
            s"cannot rename $from: it is the table's cluster column")
          // Policies (B233) store SQL text referencing columns by name.
          require(!props.contains(GraftPolicies.MaskPrefix + from) &&
            !(props.get(GraftPolicies.FilterProp) ++
              props.collect { case (pk, pv)
                if pk.startsWith(GraftPolicies.MaskPrefix) => pv })
              .exists(sql => GraftCheck.resolve(sql, schema, bind = false,
                requireBoolean = false).references.exists(_.name == from)),
            s"cannot rename $from: a row/column policy references it")
          require(!props.contains(GraftGenerated.Prefix + from),
            s"cannot rename generated column $from")
          (GraftCheck.declared(props) ++ GraftGenerated.declared(props))
            .foreach { case (_, sql) =>
              val refs = GraftCheck.resolve(sql, schema, bind = false,
                requireBoolean = false).collect {
                case a: org.apache.spark.sql.catalyst.expressions
                    .AttributeReference => a.name
              }.toSet
              require(!refs.contains(from),
                s"cannot rename $from: referenced by constraint/generation " +
                  s"expression '$sql' — drop or rewrite it first")
            }
          val physical = props.getOrElse("physical." + from, from)
          props = props - ("physical." + from) + ("physical." + to -> physical)
          // A declared DEFAULT (B199) is keyed by logical name — follow it.
          props.get(GraftDefaults.Prefix + from).foreach { d =>
            props = props - (GraftDefaults.Prefix + from) +
              ((GraftDefaults.Prefix + to) -> d)
          }
          schema = StructType(schema.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f))
        case del: TableChange.DeleteColumn =>
          // COLUMN MAPPING drop (B229, the other half of B190's rename): one
          // metadata commit, zero rewrites. The column leaves the logical
          // schema; its bytes stay in every existing file (time travel to a
          // pre-drop generation reads them through THAT generation's schema).
          // A tombstone keyed by the PHYSICAL name survives forever so a
          // future ADD COLUMN of the same name maps to a fresh physical
          // column instead of resurrecting the dropped data.
          require(del.fieldNames().length == 1, "nested columns not supported")
          val cn = del.fieldNames()(0)
          require(schema.fieldNames.contains(cn),
            s"cannot drop unknown column $cn")
          require(schema.fields.length > 1,
            s"cannot drop $cn: a table needs at least one column")
          // Same by-name surfaces as rename refuse loudly instead of dangling
          // (pathCols: current spec OR any prior spec still named in paths).
          require(!cur.pathCols.contains(cn),
            s"cannot drop partition column $cn")
          require(!props.get("bloom").toSeq.flatMap(_.split(','))
              .map(_.trim).contains(cn),
            s"cannot drop $cn: it is one of the table's bloom columns")
          require(!props.get("cluster").contains(cn),
            s"cannot drop $cn: it is the table's cluster column")
          require(!props.contains(GraftPolicies.MaskPrefix + cn) &&
            !(props.get(GraftPolicies.FilterProp) ++
              props.collect { case (pk, pv)
                if pk.startsWith(GraftPolicies.MaskPrefix) => pv })
              .exists(sql => GraftCheck.resolve(sql, schema, bind = false,
                requireBoolean = false).references.exists(_.name == cn)),
            s"cannot drop $cn: a row/column policy references it")
          require(!props.contains(GraftGenerated.Prefix + cn),
            s"cannot drop generated column $cn — drop its generation first")
          (GraftCheck.declared(props) ++ GraftGenerated.declared(props))
            .foreach { case (_, sql) =>
              val refs = GraftCheck.resolve(sql, schema, bind = false,
                requireBoolean = false).collect {
                case a: org.apache.spark.sql.catalyst.expressions
                    .AttributeReference => a.name
              }.toSet
              require(!refs.contains(cn),
                s"cannot drop $cn: referenced by constraint/generation " +
                  s"expression '$sql' — drop or rewrite it first")
            }
          val phys = props.getOrElse("physical." + cn, cn)
          props = props - ("physical." + cn) - (GraftDefaults.Prefix + cn) +
            (("dropped." + phys) -> (cur.gen + 1).toString)
          schema = StructType(schema.fields.filterNot(_.name == cn))
        case other => throw new UnsupportedOperationException(
          "graft catalog supports ADD COLUMN / DROP COLUMN / RENAME COLUMN / " +
            s"SET TBLPROPERTIES / UNSET TBLPROPERTIES only, got $other")
      }
      cur.copy(gen = cur.gen + 1, schema = schema, props = props)
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    // A non-encodable identifier can never have been created, so DROP is a
    // clean no-op — `DROP TABLE IF EXISTS a__b.t` must not throw.
    if (!encodable(ident)) return false
    val dir = tableDir(ident)
    val fs = dir.getFileSystem(conf)
    // Purge this dir's parsed-manifest memo entries (r16, advisor item): a
    // DROP + recreate reuses generation numbers in the same dir, and the
    // (len, mtime) guard alone can collide when the rewritten manifest has
    // the same byte length and lands within the mtime granularity tick.
    GraftManifest.invalidateDir(dir)
    fs.exists(dir) && fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val fs = root.getFileSystem(conf)
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    requireEncodable(newIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    require(fs.rename(tableDir(oldIdent), tableDir(newIdent)), "rename failed")
  }

  override def invalidateTable(ident: Identifier): Unit = ()
}

/** One committed snapshot: entries are (partition path like "pk=3" or "", data
  * file); `txns` holds each streaming query's newest visible epoch as
  * `queryId:epochId` (one mark per query), so a replayed micro-batch after
  * restart is recognized and skipped. */
case class GraftManifest(gen: Long, schema: StructType, partCols: Seq[String],
    entries: Seq[(String, String)], txns: Set[String] = Set.empty,
    fileStats: Map[String, String] = Map.empty,
    fileBytes: Map[String, Long] = Map.empty,
    props: Map[String, String] = Map.empty,
    fileBlooms: Map[String, String] = Map.empty,
    fileDVs: Map[String, String] = Map.empty,
    fileRows: Map[String, Long] = Map.empty,
    fileNdvs: Map[String, String] = Map.empty,
    fileDVAggs: Map[String, String] = Map.empty) {
  /** This manifest with `fresh` files' per-file metadata merged in (stats,
    * bytes, blooms, rows, NDV). Entries, gen, txns, and DVs stay the
    * caller's business — this exists so a NEW per-file field is threaded
    * through every commit path by editing exactly one place. */
  def withFileMeta(fresh: Seq[GraftFileRecord]): GraftManifest = copy(
    fileStats = fileStats ++
      fresh.collect { case f if f.stats.nonEmpty => f.rel -> f.stats },
    fileBytes = fileBytes ++ fresh.map(f => f.rel -> f.bytes),
    fileBlooms = fileBlooms ++
      fresh.collect { case f if f.bloom.nonEmpty => f.rel -> f.bloom },
    fileRows = fileRows ++
      fresh.collect { case f if f.rows >= 0 => f.rel -> f.rows },
    fileNdvs = fileNdvs ++
      fresh.collect { case f if f.ndv.nonEmpty => f.rel -> f.ndv })

  def dataSchema: StructType =
    StructType(schema.fields.filterNot(f => partCols.contains(f.name)))

  /** PARTITION SPEC EVOLUTION (B232): true when every committed file was
    * written under the CURRENT partition spec. Each file's stripped-column
    * set is exactly the key set of its partition path, so the path itself
    * records the spec the file was written under — no per-file manifest
    * field needed. Uniform tables (every table that never evolved) take
    * every existing fast path unchanged; a mixed-spec table gates off the
    * spec-global optimizations (fully-handled partition filters,
    * metadata-only aggregates, SPJ key grouping, partition-column NDV) and
    * reads each file through its OWN spec. */
  lazy val specUniform: Boolean = {
    val cur = partCols.toSet
    entries.forall { case (pp, _) =>
      GraftScanBuilder.partValues(pp).keySet == cur }
  }

  /** Every column name that appears in ANY committed file's partition path —
    * the columns whose VALUES live in paths rather than data files, under
    * the current spec or any prior one. RENAME/DROP COLUMN must refuse these
    * (paths cannot be rewritten by a metadata commit), not just the current
    * `partCols`. */
  def pathCols: Set[String] = {
    val keys = entries.iterator.flatMap { case (pp, _) =>
      GraftScanBuilder.partValues(pp).keySet }.toSet ++ partCols
    // Transform entries guard their SOURCE column too (B237): renaming or
    // dropping it would orphan the derived directory values.
    keys ++ GraftTransforms.sources(keys)
  }

  /** COLUMN MAPPING (B190, the Delta name-mapping design): logical → physical
    * column names. A column's PHYSICAL name — what parquet footers, file
    * stats, blooms, and NDV sketches are keyed by — is fixed at creation;
    * RENAME COLUMN moves only the logical name and records the mapping as a
    * `physical.<logical>` property, so a rename is one metadata commit and
    * ZERO file rewrites at any table size. Empty map = identity (untouched
    * tables pay nothing). */
  def colMap: Map[String, String] =
    props.collect { case (k, v) if k.startsWith("physical.") &&
      k.length > "physical.".length => k.stripPrefix("physical.") -> v }

  def physicalName(c: String): String = props.getOrElse("physical." + c, c)

  def physicalize(st: StructType): StructType =
    if (colMap.isEmpty) st
    else StructType(st.fields.map(f => f.copy(name = physicalName(f.name))))
  /** Columns carrying per-file Bloom filters (`bloom=<col>[,<col>…]` table
    * property, B211): each listed eligible column gets its own filter in the
    * file's bloom payload, so equality probes on ANY of them prune files —
    * the second-frequent-filter-column story z-order tells for ranges, told
    * for point lookups at the cost of 256 bytes per column per file. */
  def bloomCols: Seq[String] = props.get("bloom").toSeq
    .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    .filter(c => dataSchema.fields.exists(f =>
      f.name == c && GraftBloom.eligible(f.dataType)))

  /** First bloom column (single-column vintage accessor). */
  def bloomCol: Option[String] = bloomCols.headOption
}

object GraftManifest {
  /** Resolve a manifest rel path against the table dir. Entries are normally
    * table-relative; a SHALLOW CLONE's inherited entries and DV refs
    * ([[GraftCatalogOps.cloneTable]], the Delta CLONE design) are ABSOLUTE
    * paths into the source table and resolve as themselves. */
  def resolveRel(dir: Path, rel: String): Path =
    if (new Path(rel).isAbsolute) new Path(rel) else new Path(dir, rel)

  /** Raw CURRENT pointer value, -1 when missing/unreadable. The pointer is a
    * read CACHE over the claims (see [[currentGen]]) — never the source of
    * truth, so a transiently-missing or regressed pointer is recoverable. */
  def pointerGen(dir: Path, conf: Configuration): Long = {
    val fs = dir.getFileSystem(conf)
    try {
      val in = fs.open(new Path(dir, "CURRENT"))
      try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    } catch { case _: Exception => -1L }
  }

  /** Committed generation = max(pointer, highest claim with a COMPLETE body).
    *
    * The claims are the source of truth (exactly what concurrent writers
    * rebase on — a commit is durable the instant its manifest body lands,
    * the Delta commit-file design); the CURRENT pointer is a cache that a
    * crashed or stale cross-process writer can leave behind or (briefly)
    * regress. Deriving the read snapshot from the claims makes both failure
    * modes self-healing: a regressed pointer serves no stale read, and a
    * missing pointer (crash inside the swap) costs nothing. The probe walks
    * DOWN from the highest claim to the pointer, accepting the first
    * complete body — gens are claimed contiguously, so this loop is the
    * number of in-flight writers, not table history. */
  def currentGen(dir: Path, conf: Configuration): Long = {
    val pointer = pointerGen(dir, conf)
    var g = highestClaimedGen(dir, conf)
    while (g > pointer) {
      if (bodyComplete(dir, g, conf)) return g
      g -= 1
    }
    if (pointer >= 0) return pointer
    throw new IllegalStateException(
      s"no committed generation at $dir (CURRENT missing and no complete manifest claim)")
  }

  /** Parsed-manifest memo (r15 optimization): a committed manifest file is
    * immutable per (dir, gen) — but DROP + recreate reuses gen numbers in the
    * same dir, so the key carries the file's (length, mtime) as a content
    * guard: any rewrite lands a new entry and the stale one is never served.
    * Driver-thread sampling showed manifest re-parses as a visible per-query
    * cost in catalog DML histories (every scan/commit/fold re-loads the
    * current manifest). Bounded via soft LRU trim at 512 entries. */
  private val loadMemo = new java.util.LinkedHashMap[
      (String, Long, Long, Long), GraftManifest](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, Long, Long, Long), GraftManifest]): Boolean =
      size() > 512
  }

  /** Drop memoized manifests under `dir` — called by this JVM's DROP TABLE so
    * a recreate can never be served a same-gen/same-length/same-mtime-tick
    * stale parse (the gen-reuse hazard the key's (len, mtime) guard narrows
    * but cannot fully close). Cross-process drops remain guarded by
    * (len, mtime) only, as before. */
  def invalidateDir(dir: Path): Unit = {
    val prefix = dir.toString + "/"
    loadMemo.synchronized {
      val it = loadMemo.keySet().iterator()
      while (it.hasNext) { if (it.next()._1.startsWith(prefix)) it.remove() }
    }
  }

  def load(dir: Path, gen: Long, conf: Configuration): GraftManifest = {
    val fs = dir.getFileSystem(conf)
    val p = new Path(dir, s"manifest-$gen.txt")
    val st = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(s"no generation $gen at $dir")
    }
    val key = (p.toString, gen, st.getLen, st.getModificationTime)
    loadMemo.synchronized {
      val hit = loadMemo.get(key)
      if (hit != null) return hit
    }
    val m = loadUncached(fs, p, gen)
    loadMemo.synchronized { loadMemo.put(key, m) }
    m
  }

  private def loadUncached(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      gen: Long): GraftManifest = {
    val in = fs.open(p)
    val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8).split("\n")
      finally in.close()
    var schema: StructType = null
    var parts: Seq[String] = Seq.empty
    val entries = ArrayBuffer.empty[(String, String)]
    val txns = ArrayBuffer.empty[String]
    val stats = scala.collection.mutable.Map.empty[String, String]
    val bytes = scala.collection.mutable.Map.empty[String, Long]
    val props = scala.collection.mutable.Map.empty[String, String]
    val blooms = scala.collection.mutable.Map.empty[String, String]
    val dvs = scala.collection.mutable.Map.empty[String, String]
    val rowsM = scala.collection.mutable.Map.empty[String, Long]
    val ndvs = scala.collection.mutable.Map.empty[String, String]
    val dvAggs = scala.collection.mutable.Map.empty[String, String]
    lines.filter(_.nonEmpty).foreach { line =>
      val i = line.indexOf('=')
      (line.substring(0, i), line.substring(i + 1)) match {
        case ("schema", ddl) => schema = StructType.fromDDL(ddl)
        case ("parts", cs)   => parts = GraftTransforms.splitSpec(cs)
        case ("entry", e)    =>
          // Shorter-arity lines are earlier manifest vintages — still readable.
          val t = e.split("\t", -1); entries += ((t(0), t(1)))
          if (t.length > 2 && t(2).nonEmpty) stats(t(1)) = t(2)
          if (t.length > 3 && t(3).nonEmpty) bytes(t(1)) = t(3).toLong
          if (t.length > 4 && t(4).nonEmpty) blooms(t(1)) = t(4)
          if (t.length > 5 && t(5).nonEmpty) dvs(t(1)) = t(5)
          if (t.length > 6 && t(6).nonEmpty) rowsM(t(1)) = t(6).toLong
          if (t.length > 7 && t(7).nonEmpty) ndvs(t(1)) = t(7)
          if (t.length > 8 && t(8).nonEmpty) dvAggs(t(1)) = t(8)
        case ("txn", t)      => txns += t
        case ("prop", kv)    =>
          val j = kv.indexOf('\t'); if (j > 0) props(kv.take(j)) = kv.drop(j + 1)
        case _ => // gen=… line is informational
      }
    }
    GraftManifest(gen, GraftDefaults.attach(schema, props.toMap), parts,
      entries.toSeq, txns.toSet, stats.toMap,
      bytes.toMap, props.toMap, blooms.toMap, dvs.toMap, rowsM.toMap, ndvs.toMap,
      dvAggs.toMap)
  }

  /** Write manifest-<gen>, then flip CURRENT via temp+rename — the atomic publish. */
  /** Serialized manifest body (the line format `load` parses). */
  private def encode(m: GraftManifest): String = {
    val body = new StringBuilder
    body ++= s"gen=${m.gen}\n"
    // Default-value metadata lives in `default.<col>` props and re-attaches
    // at load — strip it here so the stored DDL stays metadata-free and
    // byte-stable across round trips.
    body ++= s"schema=${GraftDefaults.strip(m.schema).toDDL}\n"
    body ++= s"parts=${m.partCols.mkString(",")}\n"
    m.entries.foreach { case (p, d) =>
      // Fixed field order (stats, bytes, bloom, dv, rows, ndv, dvaggs) with trailing
      // empties trimmed: earlier-vintage arities stay byte-identical, and a
      // present later field (e.g. a bloom without bytes) keeps its position
      // via empty placeholders — load skips empty fields, so nothing is
      // silently lost.
      val fields = Seq(m.fileStats.getOrElse(d, ""),
        m.fileBytes.get(d).map(_.toString).getOrElse(""),
        m.fileBlooms.getOrElse(d, ""), m.fileDVs.getOrElse(d, ""),
        m.fileRows.get(d).map(_.toString).getOrElse(""),
        m.fileNdvs.getOrElse(d, ""),
        // Deleted-row aggregates travel WITH the DV: no DV, no aggs.
        if (m.fileDVs.contains(d)) m.fileDVAggs.getOrElse(d, "") else "")
      val trimmed = fields.reverse.dropWhile(_.isEmpty).reverse
      body ++= (Seq(s"entry=$p", d) ++ trimmed).mkString("\t") + "\n"
    }
    m.props.foreach { case (k, v) => body ++= s"prop=$k\t$v\n" }
    m.txns.foreach(t => body ++= s"txn=$t\n")
    // End marker: a manifest body is COMPLETE iff this line landed. Readers
    // probing claims above the CURRENT pointer (currentGen self-heal) use it
    // to distinguish a committed claim from a mid-write body — `load` itself
    // stays lenient so pre-marker-vintage manifests remain readable.
    body ++= "eof=1\n"
    body.toString
  }

  /** Is the manifest body at `gen` complete (end marker present)? A claim
    * file exists the instant it is won; its BODY is the commit. */
  def bodyComplete(dir: Path, gen: Long, conf: Configuration): Boolean = {
    val fs = dir.getFileSystem(conf)
    val p = new Path(dir, s"manifest-$gen.txt")
    try {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      text.endsWith("eof=1\n")
    } catch { case _: Exception => false }
  }

  def publish(dir: Path, m: GraftManifest, conf: Configuration): Unit = {
    val fs = GraftLocalFileSystem.forPath(dir, conf)
    fs.mkdirs(dir)
    val mf = new Path(dir, s"manifest-${m.gen}.txt")
    val out = fs.create(mf, true)
    try out.write(encode(m).getBytes(StandardCharsets.UTF_8)) finally out.close()
    advanceCurrent(dir, m.gen, conf)
  }

  /**
   * Optimistic-concurrency publish (B177, the Delta commit protocol): CLAIM
   * generation `m.gen` by exclusive create of its manifest file — exactly one
   * writer can win a generation (HDFS create-no-overwrite is atomic; object
   * stores give the same via conditional PUT). Returns false when another
   * writer already owns the slot — [[publishNext]] then reloads the winner's
   * manifest ([[loadClaimed]]) and REBASES. The content rides the claiming
   * stream, so a concurrent rebase read may catch it mid-write — loadClaimed
   * retries parse for that millisecond window (a conditional PUT is
   * content-atomic, so the window is a local-FS artifact, not a protocol
   * hole).
   */
  def publishCas(dir: Path, m: GraftManifest, conf: Configuration): Boolean = {
    val fs = GraftLocalFileSystem.forPath(dir, conf)
    fs.mkdirs(dir)
    val mf = new Path(dir, s"manifest-${m.gen}.txt")
    // CONTENT-ATOMIC claim on the file scheme: write the full body to a
    // writer-private temp file, then claim the slot via hard LINK — link(2)
    // is both atomic and exclusive (EEXIST when another writer owns the
    // slot), so the claim appears with its complete body in one syscall. A
    // writer crashing pre-link leaves only an unreferenced temp (VACUUM
    // fodder), never a permanently-empty claim shell that wedges the table.
    // Hadoop's LOCAL create(overwrite=false) is check-then-act, which is why
    // the claim cannot ride fs.create here. HDFS create-no-overwrite is
    // namenode-atomic and object stores use conditional PUT (content-atomic
    // by definition); both take the generic single-stream branch, where the
    // residual mid-write window is covered by loadClaimed's retry + the
    // stale-claim reaper in publishNext.
    if (Option(mf.toUri.getScheme).getOrElse(fs.getScheme) == "file") {
      val target = java.nio.file.Paths.get(mf.toUri.getPath)
      val tmp = target.resolveSibling(
        s".manifest-${m.gen}.tmp-${java.util.UUID.randomUUID()}")
      java.nio.file.Files.write(tmp, encode(m).getBytes(StandardCharsets.UTF_8))
      val won =
        try { java.nio.file.Files.createLink(target, tmp); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.io.IOException => false
        }
      java.nio.file.Files.deleteIfExists(tmp)
      if (!won) return false
    } else {
      // Single stream: claim + body together, no second create. On a
      // conditional-PUT store the object materializes complete or not at all.
      val won =
        try {
          val out = fs.create(mf, false)
          try out.write(encode(m).getBytes(StandardCharsets.UTF_8)) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      if (!won) return false
    }
    advanceCurrent(dir, m.gen, conf)
    true
  }

  /** Highest CLAIMED generation — includes a slot whose CURRENT advance is
    * still in flight (the rebase base must be the claim, not the pointer). */
  /** Highest claimed generation — O(1 + pointer lag), NOT O(table lifetime):
    * claims are CONTIGUOUS by construction (every claim is base.gen+1 off a
    * loaded claimed manifest; the reaper only ever removes the top), so the
    * top is found by probing FORWARD from the CURRENT pointer with existence
    * checks. The pointer trails the top only by in-flight commits, so the
    * probe is a couple of HEADs where the old glob LISTED every manifest the
    * table ever committed — at 100 k commits that listing made every
    * commit/read O(n) and the table's lifetime O(n²). Fallback to the full
    * glob when there is no pointer yet (brand-new table) or the pointed
    * manifest is missing (manual surgery) — the listing remains the ground
    * truth, the pointer is just the accelerator. */
  def highestClaimedGen(dir: Path, conf: Configuration): Long = {
    val fs = dir.getFileSystem(conf)
    val p = pointerGen(dir, conf)
    if (p >= 0 && fs.exists(new Path(dir, s"manifest-$p.txt"))) {
      // Hole-tolerant probe: claims are contiguous by construction, but
      // reapStaleClaim's check-then-delete window (non-link schemes only)
      // can in principle remove a claim a successor already built on,
      // leaving a one-gen hole. Stopping below the true top there would
      // let a later writer RE-CLAIM the reaped slot and fork the
      // successor's lineage — so when g+1 is missing, also probe g+2
      // before concluding g is the top (one extra HEAD on the exit path;
      // holes wider than one cannot arise from single-slot reaps).
      var g = p
      var done = false
      while (!done) {
        if (fs.exists(new Path(dir, s"manifest-${g + 1}.txt"))) g += 1
        else if (fs.exists(new Path(dir, s"manifest-${g + 2}.txt"))) g += 2
        else done = true
      }
      g
    } else generations(dir, conf).map(_._1).maxOption.getOrElse(-1L)
  }

  /** Every generation with a manifest file in `dir` (committed, in flight or
    * a crashed claim alike; unordered) with the file's mtime, the commit
    * instant the publish rename stamps. Each caller filters. */
  def generations(dir: Path, conf: Configuration): Seq[(Long, Long)] =
    Option(dir.getFileSystem(conf).globStatus(new Path(dir, "manifest-*.txt")))
      .toSeq.flatten.map(st => st.getPath.getName.stripPrefix("manifest-")
        .stripSuffix(".txt").toLong -> st.getModificationTime)

  /** Fail with `reclaimed` (the caller's wording of what the lost generation
    * means to its reader) unless generation `gen`'s manifest is still on
    * disk — VACUUM deletes manifests below its horizon. */
  def requireRetained(dir: Path, gen: Long, conf: Configuration)(reclaimed: => String): Unit =
    require(dir.getFileSystem(conf).exists(new Path(dir, s"manifest-$gen.txt")), reclaimed)

  /** Load a claimed manifest, retrying across the claimer's content-write
    * window (small file; the claim create and the body write are one stream). */
  def loadClaimed(dir: Path, gen: Long, conf: Configuration): GraftManifest = {
    var last: Throwable = null
    (0 until 40).foreach { _ =>
      try {
        val m = load(dir, gen, conf)
        // A claim whose body is still being written parses as an empty or
        // truncated shell rather than throwing — the end marker decides.
        // (Pre-marker-vintage manifests can only be AT or BELOW the pointer,
        // where loadClaimed is never racing a writer — accept them by the
        // legacy schema probe.)
        if (bodyComplete(dir, gen, conf) || (m.schema != null && m.gen == gen &&
            gen <= pointerGen(dir, conf))) return m
        last = new IllegalStateException(s"manifest-$gen body not yet complete")
      } catch { case e: Exception => last = e }
      Thread.sleep(50)
    }
    throw new IllegalStateException(s"manifest-$gen unreadable after claim", last)
  }

  /** Backstop for a writer that died between claim and body (possible only on
    * the generic non-link branch — file-scheme claims are content-atomic):
    * delete a claim whose body never completed once it is older than
    * `staleClaimMs`, so one crashed writer cannot wedge every later commit.
    * Never touches a generation at or below the committed pointer. */
  def reapStaleClaim(dir: Path, gen: Long, conf: Configuration,
      staleClaimMs: Long = 30000L): Boolean = {
    val fs = dir.getFileSystem(conf)
    val p = new Path(dir, s"manifest-$gen.txt")
    if (gen <= pointerGen(dir, conf) || bodyComplete(dir, gen, conf)) return false
    val age = try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
      catch { case _: Exception => return false }
    if (age < staleClaimMs) return false
    // A successor claim proves SOME writer loaded this gen as a complete
    // base (claims are only ever made off a loaded claimed manifest) — the
    // "stale" read above must then have raced the body write; never delete.
    // Re-check completeness immediately before the delete for the same
    // reason (narrows the non-link-scheme check-then-delete window; the
    // hole-tolerant probe in highestClaimedGen backstops what remains).
    if (fs.exists(new Path(dir, s"manifest-${gen + 1}.txt"))) return false
    if (bodyComplete(dir, gen, conf)) return false
    fs.delete(p, false)
  }

  /** Metadata-only commits (ALTER/TRUNCATE/RESTORE/metadata DELETE): these
    * rebase trivially because `f` re-derives the next manifest from whatever
    * snapshot it lands on. */
  def publishNext(dir: Path, conf: Configuration)
                 (f: GraftManifest => GraftManifest): GraftManifest =
    publishNext(dir, conf, cur => Some(f(cur))).get

  /** THE CAS-retry loop (B177) — every catalog commit goes through it:
    * metadata ops, batch writes, delta DML and streaming epochs. Each attempt
    * loads the highest CLAIMED manifest (reaping a dead writer's stale,
    * body-less claim so the table un-wedges), asks `step` for the next
    * generation on that base, and claims it by exclusive create. `step`
    * holds the caller's own rebase rules: it may throw a conflict, or return
    * None to publish nothing (a replayed txn). Returns what was published. */
  def publishNext(dir: Path, conf: Configuration,
                  step: GraftManifest => Option[GraftManifest]): Option[GraftManifest] = {
    var attempts = 0
    while (attempts < 20) {
      val top = highestClaimedGen(dir, conf)
      val cur =
        try loadClaimed(dir, top, conf)
        catch {
          case e: IllegalStateException =>
            if (reapStaleClaim(dir, top, conf)) loadClaimed(dir, highestClaimedGen(dir, conf), conf)
            else throw e
        }
      step(cur) match {
        case None => return None
        case Some(next) =>
          require(next.gen == cur.gen + 1,
            s"publishNext must advance exactly one generation (got ${next.gen} after ${cur.gen})")
          if (publishCas(dir, next, conf)) return Some(next)
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"commit on $dir lost $attempts CAS races — giving up under contention")
  }

  /** Move CURRENT forward to `gen`, never backward: concurrent winners of
    * later generations may already have advanced it, and a stale writer's
    * pointer update must not roll the table back. Verified post-rename with
    * bounded retries (the rename itself is atomic; the read-check-rename
    * cycle is what loops). The `_CURRENT.tmp-<gen>` file is created through
    * [[GraftLocalFileSystem]] on the `file` scheme (no `chmod` fork for it
    * or its `.crc`), with the same bits and sidecar Hadoop's local FS
    * writes, so the sidecar clean-up below applies unchanged. */
  private val currentSwapLock = new Object

  def advanceCurrent(dir: Path, gen: Long, conf: Configuration): Unit = currentSwapLock.synchronized {
    val fs = GraftLocalFileSystem.forPath(dir, conf)
    val cur = new Path(dir, "CURRENT")
    var attempts = 0
    while (attempts < 10) {
      attempts += 1
      if (pointerGen(dir, conf) >= gen) return
      val tmp = new Path(dir, s"_CURRENT.tmp-$gen")
      val o2 = fs.create(tmp, true)
      try o2.write(gen.toString.getBytes(StandardCharsets.UTF_8)) finally o2.close()
      // Re-read immediately before the swap: a cross-process racer may have
      // advanced the pointer past us since the loop-top read — backing off
      // here (instead of swapping blind) closes most of the stale-overwrite
      // window. The residue (racer lands BETWEEN this read and the rename) is
      // harmless: [[currentGen]] derives reads from the claims, so a briefly
      // regressed pointer self-heals on the next read or commit.
      if (pointerGen(dir, conf) >= gen) { fs.delete(tmp, false); return }
      if (Option(cur.toUri.getScheme).getOrElse(fs.getScheme) == "file") {
        // rename(2) replaces atomically: no delete, no CURRENT-missing gap.
        // The raw move bypasses Hadoop's ChecksumFileSystem, so any `.crc`
        // sidecar a checksummed writer left for CURRENT is now stale — drop
        // it (a reader racing the drop gets a ChecksumException, which
        // pointerGen absorbs and currentGen self-heals from the claims).
        try {
          java.nio.file.Files.move(
            java.nio.file.Paths.get(tmp.toUri.getPath),
            java.nio.file.Paths.get(cur.toUri.getPath),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          fs.delete(new Path(dir, ".CURRENT.crc"), false)
          fs.delete(new Path(dir, s"._CURRENT.tmp-$gen.crc"), false)
        }
        catch { case _: java.io.IOException => fs.delete(tmp, false) }
      } else {
        if (fs.exists(cur)) fs.delete(cur, false)
        if (!fs.rename(tmp, cur)) fs.delete(tmp, false)
      }
      if (pointerGen(dir, conf) >= gen) return
    }
    require(fs.exists(cur), s"CURRENT pointer lost under contention: $cur")
  }
}

/**
 * Commit-time entry computation with optimistic-concurrency REBASE rules
 * (B177, the Delta conflict matrix): `orig` is the snapshot the writer
 * planned against, `base` the (possibly newer) snapshot it is committing on.
 * Appends always rebase; snapshot-replacing modes conflict exactly when a
 * concurrent commit touched what they replace.
 */
object GraftCommitProtocol {
  def conflict(msg: String): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"concurrent catalog commit conflict: $msg — re-run the statement " +
        "against the new table state")

  /** A streaming sink's exactly-once ledger keeps ONE high-water mark per
    * query, `<queryId>:<batch>`: batches commit in order, so batch `batch`
    * of `queryId` is already visible when any mark of that query is at or
    * past it. Other ledger keys (`batch:`, `copy:`, …) are not marks of a
    * query id and are never read or dropped here. */
  def epochReplayed(txns: Set[String], queryId: String, batch: Long): Boolean =
    txns.exists(t => epochOf(t, queryId).exists(_ >= batch))

  /** The ledger after committing `batch` of `queryId`: that query's marks
    * replaced by one, so the ledger does not grow with the stream. */
  def epochMarked(txns: Set[String], queryId: String, batch: Long): Set[String] =
    txns.filterNot(t => epochOf(t, queryId).isDefined) + s"$queryId:$batch"

  private def epochOf(txn: String, queryId: String): Option[Long] =
    if (txn.startsWith(s"$queryId:")) txn.substring(queryId.length + 1).toLongOption
    else None

  def rebasedEntries(mode: String, orig: GraftManifest, base: GraftManifest,
      fresh: Seq[(String, String)], staticFilters: Array[Filter],
      replaced: Set[(String, String)]): Seq[(String, String)] = mode match {
    case "append" =>
      // Blind append: serializes after ANY concurrent commit untouched.
      base.entries ++ fresh
    case "truncate" =>
      // Full-snapshot replace: the result claims "exactly these rows", which
      // a concurrent commit of any kind invalidates.
      if (base.gen != orig.gen)
        conflict(s"table changed (gen ${orig.gen} -> ${base.gen}) under a truncating write")
      fresh
    case "dynamic" =>
      // Hidden transforms (B237): dynamic overwrite would replace whole
      // DERIVED directories (bucket/day/truncation bins) — rows sharing a
      // directory with the new data but otherwise untouched would silently
      // vanish. Refuse: overwrite by predicate or truncate instead.
      if (base.partCols.exists(GraftTransforms.isTransform))
        conflict("dynamic partition overwrite on a transform-partitioned " +
          "table (bucket/days/truncate) replaces whole derived directories " +
          "— overwrite by predicate or truncate instead")
      // Spec evolution (B232): dynamic overwrite replaces entries by
      // partition-PATH equality, but a pre-evolution file may hold rows of a
      // touched logical partition in DATA (different path string) — those
      // rows would silently survive the overwrite. Refuse until compaction
      // migrates the layout.
      if (!base.specUniform)
        conflict("dynamic partition overwrite on a spec-evolved table: " +
          "files written under a prior partition spec cannot be replaced " +
          "by partition path — run OPTIMIZE to migrate the layout first")
      val touched = fresh.map(_._1).toSet
      if (base.gen != orig.gen) {
        val origBy = orig.entries.groupBy(_._1)
        val baseBy = base.entries.groupBy(_._1)
        val changed = touched.filter(p =>
          origBy.getOrElse(p, Nil) != baseBy.getOrElse(p, Nil))
        if (changed.nonEmpty)
          conflict(s"partition(s) ${changed.mkString(", ")} were modified concurrently " +
            "under a dynamic partition overwrite")
      }
      base.entries.filterNot { case (p, _) => touched(p) } ++ fresh
    case "static" =>
      def selected(m: GraftManifest) = m.entries.filter { case (p, _) =>
        val values = GraftScanBuilder.partValues(p)
        // Spec evolution (B232): a file whose path cannot DECIDE the
        // overwrite predicate (pre-evolution spec — the filter column lives
        // in its data) makes the selection ambiguous; matchesStrict's
        // keep-when-unknown would widen the replace over rows the predicate
        // never selected. Refuse rather than lose data.
        // Branch the refusal by CAUSE: on a spec-uniform table no amount of
        // OPTIMIZE makes a data-column (or bucket-source) predicate
        // path-decidable — the actionable fix is a different predicate or
        // replaceWhere. The OPTIMIZE hint is reserved for genuinely
        // mixed-spec tables where compaction really does migrate the layout.
        staticFilters.foreach { f =>
          val missing = f.references.filterNot(values.keySet.contains)
          // A transform SOURCE column can never be targeted by an equality
          // overwrite — its directory key is the DERIVED value, so "overwrite
          // by partition key" is not actionable advice for it (B237):
          // replaceWhere is the only predicate overwrite that works there.
          val transformSrc =
            missing.filter(GraftTransforms.sources(m.partCols).contains)
          require(missing.isEmpty,
            if (m.specUniform && transformSrc.nonEmpty)
              s"static overwrite predicate column(s) " +
                s"${transformSrc.mkString(", ")} are hidden-transform SOURCE " +
                "columns — their directories are keyed by the derived value " +
                "(bucket/day/truncation bin), so an equality overwrite " +
                "cannot target them; use replaceWhere"
            else if (m.specUniform)
              s"static overwrite predicate column(s) " +
                s"${missing.mkString(", ")} " +
                "are not in the partition spec — overwrite by partition key, " +
                "or use replaceWhere"
            else
              s"static overwrite on a spec-evolved table: file path '$p' does " +
                "not carry the predicate column(s) — run OPTIMIZE to migrate " +
                "the layout first")
        }
        staticFilters.forall(f => GraftScanBuilder.matchesStrict(f, values, m.schema))
      }
      if (base.gen != orig.gen && selected(orig) != selected(base))
        conflict("the partitions selected by a static overwrite changed concurrently")
      base.entries.filterNot(selected(base).toSet) ++ fresh
    case "replace-groups" =>
      // Row-level copy-on-write: every file the scan planned must still be
      // live and carry the DV it was read with — a concurrent rewrite or
      // delete of the same rows is a lost-update hazard, never silent.
      val baseSet = base.entries.toSet
      val gone = replaced.filterNot(baseSet)
      if (gone.nonEmpty)
        conflict(s"file(s) ${gone.map(_._2).mkString(", ")} were rewritten or removed " +
          "concurrently under a row-level operation")
      val dvChanged = replaced.filter { case (_, rel) =>
        base.fileDVs.get(rel) != orig.fileDVs.get(rel) }
      if (dvChanged.nonEmpty)
        conflict(s"deletion vectors on ${dvChanged.map(_._2).mkString(", ")} changed " +
          "concurrently under a row-level operation")
      base.entries.filterNot(replaced) ++ fresh
  }

  /** Delta-DML (merge-on-read) rebase: a commit that adds deletion vectors
    * to the `touched` files rebases onto any concurrent commit that left
    * those files live with UNCHANGED DVs — the commit unions its positions
    * into the base's DV, so a concurrent delete on the same file would
    * otherwise be silently dropped. Appends and commits on other files
    * rebase. */
  def requireDeltaRebasable(orig: GraftManifest, base: GraftManifest,
      touched: collection.Set[String]): Unit = if (base.gen != orig.gen) {
    val live = base.entries.map(_._2).toSet
    val gone = touched.filterNot(live)
    if (gone.nonEmpty)
      conflict(s"delta-DML target file(s) ${gone.mkString(", ")} were rewritten or " +
        "removed concurrently")
    val dvChanged = touched.filter(rel => base.fileDVs.get(rel) != orig.fileDVs.get(rel))
    if (dvChanged.nonEmpty)
      conflict(s"deletion vectors on ${dvChanged.mkString(", ")} changed concurrently " +
        "under a delta DML commit")
  }
}

class GraftTable(val ident: Identifier, val dir: Path, val manifest: GraftManifest)
    extends Table with SupportsRead with SupportsWrite with TruncatableTable
    with SupportsDelete with SupportsRowLevelOperations with SupportsMetadataColumns {
  override def name(): String = s"graft.${ident.name()}@${manifest.gen}"
  override def schema(): StructType = manifest.schema
  override def partitioning(): Array[Transform] =
    manifest.partCols.map(GraftTransforms.toV2Transform).toArray
  /** User table properties from the manifest — `SHOW TBLPROPERTIES` and
    * DESCRIBE EXTENDED read these. */
  override def properties(): util.Map[String, String] = manifest.props.asJava

  /** Queryable provenance metadata (`SELECT *, _gen, _file FROM graft.t`):
    * `_gen` is the manifest generation that committed each row's file (-1 for
    * streaming-epoch files), `_file` the file's manifest rel path. `_file` is
    * also the row-level operations' required metadata attribute — the handle
    * Spark's runtime group filtering prunes rewrite targets by (the same
    * design Iceberg uses), and what routes the rewrite through the
    * metadata-projection write path so writers see clean table-schema rows. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = "_gen"
      override def dataType(): DataType = LongType
      override def isNullable(): Boolean = false
      override def comment(): String = "manifest generation that committed this row's file"
    },
    new MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable(): Boolean = false
      override def comment(): String = "manifest rel path of this row's file"
    },
    new MetadataColumn {
      override def name(): String = "_pos"
      override def dataType(): DataType = LongType
      override def isNullable(): Boolean = false
      override def comment(): String = "row ordinal within this row's file (deletion-vector row id)"
    })

  /** UPDATE / MERGE / non-partition DELETE. Two engines, chosen by the
    * `dml` table property:
    *  - copy-on-write (default): Spark rewrites the touched files' full
    *    content and the commit swaps them — read-optimized, write-amplified.
    *  - `dml=dv` merge-on-read: the operation emits per-row deltas keyed by
    *    (_file, _pos); deletes become deletion-vector entries, updates become
    *    delete+insert, and NO existing file is rewritten — the scale-safe
    *    shape for frequent point DML on huge files. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      // Policy gate (B233): a copy-on-write (or DV-position-finding) DML
      // READS through the policed scan — a non-exempt session would persist
      // MASKED values / never see filtered rows. Refuse loudly.
      require(!GraftPolicies.active(manifest, SparkSession.active),
        s"DML on ${ident.name()} requires a policy-exempt role: the table " +
          "declares row/column policies and a rewrite through a policed " +
          "read would persist masked data (set spark.graft.role to an " +
          "exempt role)")
      if (manifest.props.get("dml").contains("dv"))
        new GraftDeltaRowLevelOperation(dir, manifest, info.command())
      else new GraftRowLevelOperation(dir, manifest, info.command())
    }

  /** SQL DELETE FROM … WHERE on partition keys: a metadata-only commit that
    * drops the selected partitions' entries (files stay for time travel).
    * canDeleteWhere accepts ONLY the filter shapes matchesStrict can decide
    * per partition — everything else reports false so Spark routes the
    * statement through the row-level copy-on-write rewrite below instead of
    * this table erroring out. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    // Policy-active sessions (B233) route to the row-level builder, whose
    // gate explains the refusal (a metadata delete here would also drop rows
    // the row filter hides from this session).
    !GraftPolicies.active(manifest, SparkSession.active) &&
    // specUniform (B232): metadata-only partition deletes need EVERY file to
    // carry the filter columns in its path — a pre-evolution file holds the
    // values in DATA, and matches() keeps-when-unknown would drop it
    // wholesale. Mixed tables report false so Spark routes the DELETE
    // through the row-level copy-on-write rewrite, which is always exact.
    manifest.specUniform &&
      filters.forall(GraftScanBuilder.isPartitionFilter(_, manifest.partCols))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    GraftManifest.publishNext(dir, conf) { cur =>
      val kept = cur.entries.filterNot { case (p, _) =>
        val values = GraftScanBuilder.partValues(p)
        filters.forall(f => GraftScanBuilder.matchesStrict(f, values, cur.schema))
      }
      cur.copy(gen = cur.gen + 1, entries = kept)
    }
  }

  /** SQL TRUNCATE TABLE: a new generation with an empty entry list — the data
    * of every prior generation stays on disk and time-travel readable. */
  override def truncateTable(): Boolean = {
    require(!GraftPolicies.active(manifest, SparkSession.active),
      s"TRUNCATE on ${ident.name()} requires a policy-exempt role — it " +
        "would drop rows the session's row filter hides")
    val conf = SparkSession.active.sessionState.newHadoopConf()
    GraftManifest.publishNext(dir, conf)(cur =>
      cur.copy(gen = cur.gen + 1, entries = Seq.empty))
    true
  }
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
    TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
    TableCapability.OVERWRITE_DYNAMIC, TableCapability.STREAMING_WRITE,
    TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Streaming admission control: readStream.option("maxGensPerTrigger", N)
    // caps how many manifest generations one micro-batch may absorb;
    // option("maxBytesPerTrigger", B) caps a batch by the byte sum of the
    // files it would emit (the manifest's per-file byte stats — no file IO).
    val streamOpts = GraftStreamOptions(
      maxGensPerTrigger = Option(options.get("maxGensPerTrigger")).map(_.toLong),
      maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      startingVersion = Option(options.get("startingVersion")).map(_.toLong))
    new GraftScanBuilder(dir, manifest, streamOpts)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(dir, manifest, info)
}

/** Streaming-source admission knobs (both optional, combined as the tighter
  * of the two when set together). */
case class GraftStreamOptions(maxGensPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    startingVersion: Option[Long] = None) {
  def paced: Boolean = maxGensPerTrigger.isDefined || maxBytesPerTrigger.isDefined
}

class GraftScanBuilder(dir: Path, manifest: GraftManifest,
    streamOpts: GraftStreamOptions = GraftStreamOptions()) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  protected var required: StructType = manifest.schema
  protected var partFilters: Array[Filter] = Array.empty
  protected var dataFilters: Array[Filter] = Array.empty
  protected var fileFilters: Array[Filter] = Array.empty
  private var aggPushed: Option[(StructType, Seq[InternalRow])] = None

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  // Accept (and fully handle) partition-key filters we can evaluate against the
  // manifest; everything else stays Spark's to re-check above the scan — but is
  // ALSO handed to the parquet reader for row-group statistics skipping.
  // `_file` equality/IN predicates prune the entry list at BUILD time (an
  // entry's rel path IS the `_file` value of every row it holds, so the prune
  // is exact) — this is what lets the change-data-feed read "the files commit
  // g added" out of a 30 000-file snapshot without opening the other 29 990.
  // They are still returned as residual (Spark re-checks above the scan) and
  // are kept OUT of dataFilters: `_file` is no parquet column, and the
  // min/max evaluator has no stats row for it.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Partition spec evolution (B232): fully-handling a partition filter is
    // only sound when EVERY file carries the column in its path. On a
    // mixed-spec table the filter goes to dataFilters instead — still pruned
    // per file in keptEntries (path-exact where the file's path carries the
    // column, min/max stats where it was a data column at write time) and
    // re-checked by Spark above the scan, since old files surface the value
    // from DATA and new files from the partition channel.
    val (part, rest) =
      if (manifest.specUniform)
        filters.partition(GraftScanBuilder.isPartitionFilter(_, manifest.partCols))
      else (Array.empty[Filter], filters)
    partFilters = part
    val (onFile, data) = rest.partition {
      case EqualTo("_file", _) | In("_file", _) => true
      case _ => false
    }
    fileFilters = onFile
    dataFilters = data
    rest
  }
  override def pushedFilters(): Array[Filter] = partFilters

  /** Two manifest-side pruning layers, both before ANY file IO: partition
    * filters drop whole partitions; file min/max stats drop individual files
    * a data predicate provably excludes (Delta-style data skipping). */
  // Lazy val, not def: Spark drives supportCompletePushDown, then
  // pushAggregation, then build() on one builder — each walked the full
  // manifest (stats parse + bloom + transform pruning per file; 3 walks of
  // a 100k-file manifest per aggregate query). The V2 contract fixes the
  // push order (filters land before any of these), so the first forcing
  // sees the final filter set and the walk happens once per builder.
  protected lazy val keptEntries: Seq[(String, String)] = {
    // Column mapping (B190): stats/blooms are keyed by PHYSICAL names —
    // translate the pushed logical filters once for the whole entry walk.
    // Masked columns (B233): their filters never prune — file stats and
    // blooms hold RAW bounds, and the engine re-checks these predicates on
    // MASKED output above the scan (pruning on raw would drop rows the
    // masked predicate matches). Exempt sessions prune normally.
    val masked = GraftPolicies.maskedCols(manifest, SparkSession.active)
    val prunable =
      if (masked.isEmpty) dataFilters
      else dataFilters.filterNot(_.references.exists(masked.contains))
    val physFilters =
      if (manifest.colMap.isEmpty) prunable
      else prunable.map(GraftScanBuilder.renameFilter(_, manifest.physicalName))
    // Mixed-spec tables (B232): a filter on a partition column rides
    // dataFilters (see pushFilters) — prune with the FULL schema so files
    // that recorded the column in their stats (it was data at their write
    // time) still skip, and path-exact-match files whose path carries every
    // referenced column (matches() is conservative on the rest).
    val physSchema = manifest.physicalize(
      if (manifest.specUniform) manifest.dataSchema else manifest.schema)
    val mixed = !manifest.specUniform
    // HIDDEN transform pruning (B237): predicates on a transform SOURCE
    // column prune to the matching derived directories. Equality/IN lower
    // to directory equality exactly for every kind; days and truncate-over-
    // integers are MONOTONIC, so range predicates prune directory ranges
    // (`ts >= X AND ts < Y` opens only the covered day directories — the
    // time-partitioned fact scan at 100 TB); truncate-over-strings prunes
    // equality and StartsWith by prefix. Conservative everywhere else
    // (unknown shapes, undecodable values, missing keys keep).
    val transforms: Seq[(String, GraftTransforms.PartTransform)] =
      manifest.partCols.flatMap(pc =>
        GraftTransforms.transformOf(pc).map(t => (pc, t)))
    def widenL(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case sh: Short => Some(sh.toLong)
      case _ => None
    }
    // (ordinal, on-boundary) of a pushed TIMESTAMP/DATE filter value in a
    // temporal transform's unit (both the java.sql and java.time vintages).
    // The boundary bit lets a strict `<` drop the boundary directory —
    // `ts < '2024-02-01'` excludes the whole boundary day/month/year, the
    // dominant time-range scan shape. None keeps conservatively.
    def unitB(t: GraftTransforms.TemporalT, v: Any): Option[(Long, Boolean)] = {
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      def ofMicros(us: Long) = (t.unitValue(us), t.isBoundary(us))
      def ofDays(d: Int) = (t.unitValueDays(d), t.isBoundaryDays(d))
      v match {
        case ts: java.sql.Timestamp => Some(ofMicros(DateTimeUtils.fromJavaTimestamp(ts)))
        case i: java.time.Instant => Some(ofMicros(DateTimeUtils.instantToMicros(i)))
        case d: java.sql.Date => Some(ofDays(DateTimeUtils.fromJavaDate(d)))
        case ld: java.time.LocalDate => Some(ofDays(ld.toEpochDay.toInt))
        case _ => None
      }
    }
    def transformKeeps(values: Map[String, String]): Boolean =
      transforms.forall { case (pathKey, t) =>
        values.get(pathKey) match {
          case Some(raw) =>
            val nullDir = raw == "__HIVE_DEFAULT_PARTITION__"
            lazy val rawL = raw.toLongOption
            val src = t.source
            // Monotonic kinds hold a source RANGE per directory: days dir d
            // covers [d, d+1) days, truncate dir r covers [r, r+w) — the
            // range cases below compare in the derived unit.
            prunable.forall { f =>
              t match {
                case GraftTransforms.BucketT(n, _) => f match {
                  case EqualTo(a, v) if a == src =>
                    if (nullDir) v == null
                    else widenL(v).forall(l =>
                      GraftTransforms.bucketValue(l, n).toString == raw)
                  case In(a, vs) if a == src =>
                    if (nullDir) vs.contains(null)
                    else vs.exists(v => v != null && widenL(v).forall(l =>
                      GraftTransforms.bucketValue(l, n).toString == raw))
                  case IsNull(a) if a == src => nullDir
                  case IsNotNull(a) if a == src => !nullDir
                  case _ => true
                }
                case tt: GraftTransforms.TemporalT => f match {
                  case EqualTo(a, v) if a == src =>
                    if (nullDir) v == null
                    else unitB(tt, v).forall(d => rawL.forall(_ == d._1))
                  case In(a, vs) if a == src =>
                    if (nullDir) vs.contains(null)
                    else vs.exists(v => v != null &&
                      unitB(tt, v).forall(d => rawL.forall(_ == d._1)))
                  case IsNull(a) if a == src => nullDir
                  case IsNotNull(a) if a == src => !nullDir
                  // Monotonic ranges: a unit directory d covers [d, d+1).
                  case GreaterThan(a, v) if a == src =>
                    !nullDir && unitB(tt, v).forall(d => rawL.forall(_ >= d._1))
                  case GreaterThanOrEqual(a, v) if a == src =>
                    !nullDir && unitB(tt, v).forall(d => rawL.forall(_ >= d._1))
                  case LessThan(a, v) if a == src =>
                    // Boundary-exact v: no row of unit d satisfies ts < d's
                    // own lower boundary — the boundary directory drops too.
                    !nullDir && unitB(tt, v).forall { case (d, boundary) =>
                      rawL.forall(r => if (boundary) r < d else r <= d) }
                  case LessThanOrEqual(a, v) if a == src =>
                    !nullDir && unitB(tt, v).forall(d => rawL.forall(_ <= d._1))
                  case _ => true
                }
                case GraftTransforms.TruncT(w, _)
                    if manifest.schema.fields.exists(fd =>
                      fd.name == src && fd.dataType == StringType) => f match {
                  case EqualTo(a, v) if a == src =>
                    if (nullDir) v == null
                    else v == null || GraftTransforms.truncString(
                      String.valueOf(v), w) == raw
                  case In(a, vs) if a == src =>
                    if (nullDir) vs.contains(null)
                    else vs.exists(v => v != null && GraftTransforms
                      .truncString(String.valueOf(v), w) == raw)
                  case StringStartsWith(a, p) if a == src && p != null =>
                    if (nullDir) false
                    else {
                      val pt = GraftTransforms.truncString(p, w)
                      // p shorter than the prefix width: any match extends p,
                      // so its directory must start with p; p at least as
                      // long: the directory IS p's own prefix exactly.
                      if (pt == p) raw.startsWith(p) else raw == pt
                    }
                  case IsNull(a) if a == src => nullDir
                  case IsNotNull(a) if a == src => !nullDir
                  case _ => true
                }
                case GraftTransforms.TruncT(w, _) => f match {
                  case EqualTo(a, v) if a == src =>
                    if (nullDir) v == null
                    else widenL(v).forall(l =>
                      rawL.forall(_ == GraftTransforms.truncLong(l, w)))
                  case In(a, vs) if a == src =>
                    if (nullDir) vs.contains(null)
                    else vs.exists(v => v != null && widenL(v).forall(l =>
                      rawL.forall(_ == GraftTransforms.truncLong(l, w))))
                  case IsNull(a) if a == src => nullDir
                  case IsNotNull(a) if a == src => !nullDir
                  // Monotonic ranges: directory r covers [r, r+w). Guard the
                  // r+w-1 arithmetic against Long overflow (keep when it
                  // would wrap — conservative, never unsound).
                  case GreaterThan(a, v) if a == src =>
                    !nullDir && widenL(v).forall(l => rawL.forall(r =>
                      r > Long.MaxValue - w || r + w - 1 > l))
                  case GreaterThanOrEqual(a, v) if a == src =>
                    !nullDir && widenL(v).forall(l => rawL.forall(r =>
                      r > Long.MaxValue - w || r + w - 1 >= l))
                  case LessThan(a, v) if a == src =>
                    !nullDir && widenL(v).forall(l => rawL.forall(_ < l))
                  case LessThanOrEqual(a, v) if a == src =>
                    !nullDir && widenL(v).forall(l => rawL.forall(_ <= l))
                  case _ => true
                }
              }
            }
          case None => true
        }
      }
    manifest.entries.filter { case (partPath, rel) =>
      val values = GraftScanBuilder.partValues(partPath)
      partFilters.forall(f => GraftScanBuilder.matches(f, values, manifest.schema)) &&
        transformKeeps(values) &&
        (!mixed || prunable.forall(f =>
          !f.references.forall(values.keySet.contains) ||
            GraftScanBuilder.matches(f, values, manifest.schema))) &&
        fileFilters.forall {
          case EqualTo("_file", v) => rel == String.valueOf(v)
          case In("_file", vs) => vs.exists(v => rel == String.valueOf(v))
          case _ => true
        } &&
        GraftFileStats.mayMatch(manifest.fileStats.get(rel), physFilters,
          physSchema) &&
        GraftBloom.mayMatchCols(manifest.fileBlooms.get(rel),
          manifest.bloomCols, physFilters)
    }
  }

  /**
   * METADATA-ONLY aggregates (the lakehouse "answer count(*) from the
   * manifest" optimization): an ungrouped COUNT(*) / COUNT(col) / MIN(col) /
   * MAX(col) whose inputs the manifest fully determines is answered on the
   * DRIVER with zero file IO — at 100 TB this turns a 30 000-file scan into a
   * map lookup. Soundness gates, each refusing (→ normal scan) rather than
   * approximating:
   *  - no unhandled (data) filters — Spark only attempts the pushdown when
   *    every remaining filter was fully handled, and partition filters prune
   *    the entry list the totals sum over;
   *  - deletion vectors: COUNT/COUNT(col)/SUM subtract the per-file
   *    deleted-row aggregates recorded at delete time ([[GraftDVAggs]]); a DV
   *    without recorded aggregates (pre-feature vintage) refuses, and MIN/MAX
   *    always refuse under a DV (a deleted extreme invalidates the bound);
   *  - COUNT needs every kept file's exact row count; COUNT(col) needs its
   *    null count (data columns: file stats; partition columns: the
   *    __HIVE_DEFAULT_PARTITION__ marker + row counts);
   *  - MIN/MAX need every kept file to publish bounds for the column (a
   *    NaN/Inf or pre-stats-vintage file publishes none → refuse), with the
   *    ASCII guard on strings (Java vs UTF8 order diverge above 0x7F);
   *    partition columns read bounds from the directory values instead.
   * Complete-only: a refused aggregation falls back to the full scan, never
   * to a partial result.
   */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggResult(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggResult(agg) match {
      case some @ Some(_) => aggPushed = some; true
      case None => false
    }

  // Spark calls supportCompletePushDown and pushAggregation back to back
  // with the SAME Aggregation instance — memoize by identity so the
  // manifest aggregation runs once per builder, not twice.
  private var aggMemo: Option[(AnyRef, Option[(StructType, Seq[InternalRow])])] = None
  private def aggResult(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[InternalRow])] = aggMemo match {
    case Some((k, r)) if k eq agg => r
    case _ =>
      val r = computeAggResult(agg)
      aggMemo = Some((agg, r))
      r
  }

  private def computeAggResult(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    // `_file` filters refuse too: Spark only attempts aggregate pushdown with
    // zero residual filters (and ours stay residual), but a future residual-
    // handling change must not silently aggregate under a filter whose
    // re-check column the LocalScan wouldn't carry.
    if (dataFilters.nonEmpty || fileFilters.nonEmpty) return None
    // Mixed-spec tables (B232) refuse wholesale: a column is partition-valued
    // for some files and data-valued for others, so neither the directory
    // branch nor the file-stats branch below is complete — fall back to the
    // scan, which reconstructs every file through its own spec.
    if (!manifest.specUniform) return None
    // Active row/column policies (B233) refuse wholesale: a manifest COUNT
    // would count rows the row filter hides, and MIN/MAX would leak raw
    // extremes of masked columns — the scan fallback applies the policy.
    if (GraftPolicies.active(manifest, SparkSession.active)) return None
    val allEntries = keptEntries
    // Deletion vectors no longer force a scan wholesale: a DV'd file whose
    // commit recorded deleted-row aggregates ([[GraftDVAggs]]) supports
    // COUNT/COUNT(col)/SUM by SUBTRACTION. Only a DV without aggregates (a
    // pre-feature vintage, or an agg-compute failure at commit) refuses.
    // MIN/MAX always refuse under a DV — a deleted extreme invalidates the
    // bound, and bounds cannot be subtracted.
    val dvAggsByRel: Map[String, (Long, Map[String, (Long, Option[Long])])] = {
      val dvd = allEntries.map(_._2).filter(manifest.fileDVs.contains)
      if (!dvd.forall(manifest.fileDVAggs.contains)) return None
      dvd.map { rel =>
        try rel -> GraftDVAggs.parse(manifest.fileDVAggs(rel))
        catch { case _: Exception => return None }
      }.toMap
    }
    def dvDeleted(rel: String): Long = dvAggsByRel.get(rel).map(_._1).getOrElse(0L)
    val isPart = manifest.partCols.toSet
    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
        case _ => None
      }
    def dataType(c: String): Option[DataType] =
      manifest.schema.fields.find(_.name == c).map(_.dataType)
    def typedVal(dt: DataType, s: String): Any = dt match {
      case StringType  => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case IntegerType => s.toInt
      case LongType    => s.toLong
      case ShortType   => s.toShort
      case DoubleType  => s.toDouble
      case FloatType   => s.toFloat
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    def lt(dt: DataType, a: String, b: String): Boolean = dt match {
      case StringType => a.compareTo(b) < 0
      case _ => new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)) < 0
    }
    // GROUP BY is supported exactly over PARTITION columns: the manifest's
    // directory values ARE the group keys (a SHOW-PARTITIONS-grade profile
    // for free); anything else refuses.
    val groupCols: Seq[String] = {
      val ns = agg.groupByExpressions.toSeq.map(colName)
      if (!ns.forall(_.exists(isPart))) return None
      ns.map(_.get)
    }

    /** Aggregate values over one entry subset; None = not metadata-decidable. */
    def computeFor(entries: Seq[(String, String)]): Option[Seq[(DataType, Any)]] = {
      val rels = entries.map(_._2)
      lazy val statsByFile = rels.map(r => manifest.fileStats.get(r).map(GraftFileStats.parse))
      lazy val totalRows: Option[Long] = {
        val per = rels.map(r => manifest.fileRows.get(r).map(_ - dvDeleted(r)))
        if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
      }
      // Per-file candidate bound strings for column c (None = file unusable;
      // Some(None) = file provably contributes nothing, e.g. all-null).
      def boundsOf(c: String): Option[Seq[Option[(String, String)]]] =
        if (isPart(c)) Some(entries.map { case (pp, _) =>
          GraftScanBuilder.partValues(pp).get(c)
            .filter(_ != "__HIVE_DEFAULT_PARTITION__").map(v => (v, v))
        })
        else {
          val per = rels.indices.map { i =>
            statsByFile(i).flatMap(_.get(manifest.physicalName(c))).flatMap {
              case (_, Some(mn), Some(mx)) => Some(Some((mn, mx)))
              case (_, None, None)         => Some(None) // provably all-null
              case _                       => None
            }
          }
          if (per.forall(_.isDefined)) Some(per.map(_.get)) else None
        }
      def extreme(c: String, wantMin: Boolean): Option[(DataType, Any)] =
        dataType(c).filter(GraftFileStats.eligible)
          // A deleted extreme invalidates the file's bound: no MIN/MAX under DVs.
          .filter(_ => !rels.exists(manifest.fileDVs.contains)).flatMap { dt =>
          boundsOf(c).flatMap { per =>
            val cands = per.flatten.map(b => if (wantMin) b._1 else b._2)
            if (dt == StringType && cands.exists(_.exists(_ >= 0x80))) None // ASCII guard
            else if (cands.isEmpty) Some((dt, null)) // zero non-null values ⇒ SQL null
            else Some((dt, typedVal(dt,
              cands.reduce((a, b) => if (lt(dt, a, b) == wantMin) a else b))))
          }
        }
      def nonNullCount(c: String): Option[Long] =
        if (isPart(c)) {
          // A file's deleted rows all carry its directory value: live
          // non-nulls = liveRows (or 0 in the null partition, DV'd or not).
          val per = entries.map { case (pp, rel) =>
            if (GraftScanBuilder.partValues(pp).get(c)
                  .contains("__HIVE_DEFAULT_PARTITION__")) Some(0L)
            else manifest.fileRows.get(rel).map(_ - dvDeleted(rel))
          }
          if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
        } else {
          val per = rels.indices.map { i =>
            for {
              st <- statsByFile(i)
              col <- st.get(manifest.physicalName(c))
              rows <- manifest.fileRows.get(rels(i))
              deadNN <- dvAggsByRel.get(rels(i)) match {
                case None => Some(0L) // no DV on this file
                case Some((_, cols)) => cols.get(manifest.physicalName(c)).map(_._1)
              }
            } yield rows - col._1 - deadNN
          }
          if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
        }
      // SUM over an INTEGRAL column (B202): per-file exact sums from the 5th
      // stats field compose by wrapping Long addition (associative — order
      // never matters, and the wrap matches Spark's non-ANSI BIGINT sum). A
      // partition column's sum is dirValue × rows per file. SQL null iff the
      // column has zero non-null values. Any file lacking a recorded sum
      // (all-null shape contributes 0; float column or pre-B202 vintage
      // refuses) falls back to the full scan.
      def sumOf(c: String): Option[(DataType, Any)] = dataType(c).collect {
        case IntegerType | LongType | ShortType => ()
      }.flatMap { _ =>
        val perFile: Seq[Option[Long]] =
          if (isPart(c)) entries.map { case (pp, rel) =>
            GraftScanBuilder.partValues(pp).get(c) match {
              case Some("__HIVE_DEFAULT_PARTITION__") => Some(0L)
              case Some(v) => manifest.fileRows.get(rel)
                .map(rows => (rows - dvDeleted(rel)) * v.toLong)
              case None => None
            }
          }
          else rels.indices.map { i =>
            statsByFile(i).flatMap { st =>
              val phys = manifest.physicalName(c)
              val fileSum = st.get(phys) match {
                case Some((_, None, None)) => Some(0L) // all-null file
                case Some(_) => manifest.fileStats.get(rels(i))
                  .flatMap(s => GraftFileStats.parseSums(s).get(phys))
                case None => None
              }
              // Under a DV, subtract the recorded deleted-row sum (wrapping
              // Long subtraction inverts the wrapping addition exactly).
              fileSum.flatMap { fs =>
                dvAggsByRel.get(rels(i)) match {
                  case None => Some(fs)
                  case Some((_, cols)) => cols.get(phys).flatMap(_._2).map(fs - _)
                }
              }
            }
          }
        if (perFile.exists(_.isEmpty)) None
        else nonNullCount(c).map { nn =>
          (LongType: DataType, if (nn == 0L) null else (perFile.flatten.sum: Any))
        }
      }
      val resolved: Seq[Option[(DataType, Any)]] = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => totalRows.map(n => (LongType: DataType, n: Any))
        case c: Count if !c.isDistinct =>
          colName(c.column).flatMap(nonNullCount).map(n => (LongType: DataType, n: Any))
        case m: Min => colName(m.column).flatMap(extreme(_, wantMin = true))
        case m: Max => colName(m.column).flatMap(extreme(_, wantMin = false))
        case s: Sum if !s.isDistinct => colName(s.column).flatMap(sumOf)
        case _ => None
      }
      if (resolved.exists(_.isEmpty)) None else Some(resolved.map(_.get))
    }

    def aggFields(vals: Seq[(DataType, Any)]): Seq[org.apache.spark.sql.types.StructField] =
      vals.zipWithIndex.map { case ((dt, _), i) =>
        // MIN/MAX of an all-null group is null; counts never are.
        org.apache.spark.sql.types.StructField(s"agg_$i", dt,
          nullable = dt != LongType ||
            !agg.aggregateExpressions()(i).isInstanceOf[CountStar])
      }

    if (groupCols.isEmpty) {
      computeFor(allEntries).map { vals =>
        (StructType(aggFields(vals)), Seq(InternalRow.fromSeq(vals.map(_._2))))
      }
    } else {
      val keyTypes = groupCols.map(c => manifest.schema(c).dataType)
      if (!keyTypes.forall {
        case StringType | IntegerType | LongType | ShortType => true
        case _ => false
      }) return None
      // One group per distinct directory-value tuple, sorted for determinism.
      // Groups whose files hold zero rows are DROPPED: a real GROUP BY emits
      // no group for zero input rows — so all row counts must be known.
      val grouped = allEntries.groupBy { case (pp, _) =>
        val values = GraftScanBuilder.partValues(pp)
        groupCols.map(values.get(_).filter(_ != "__HIVE_DEFAULT_PARTITION__"))
      }.toSeq.sortBy(_._1.map(_.getOrElse("")).mkString("|"))
      val perGroup = grouped.map { case (key, entries) =>
        // LIVE rows decide group existence: a group whose every row is
        // DV-deleted must vanish, exactly as a real GROUP BY emits nothing.
        val rows = entries.map(e =>
          manifest.fileRows.get(e._2).map(_ - dvDeleted(e._2)))
        if (rows.exists(_.isEmpty)) None
        else if (rows.flatten.sum == 0L) Some(None) // empty group: emit nothing
        else computeFor(entries).map(vals => Some((key, vals)))
      }
      if (perGroup.exists(_.isEmpty)) None
      else {
        val present = perGroup.flatten.flatten
        val sample = present.headOption.map(_._2)
          .orElse(computeFor(Seq.empty)) // schema even for an all-empty table
        sample.map { vals =>
          val keyFields = groupCols.zip(keyTypes).map { case (c, dt) =>
            org.apache.spark.sql.types.StructField(c, dt, nullable = true) }
          val schema = StructType(keyFields ++ aggFields(vals))
          val rows = present.map { case (key, v) =>
            InternalRow.fromSeq(
              key.zip(keyTypes).map {
                case (Some(raw), dt) => typedVal(dt, raw)
                case (None, _)       => null
              } ++ v.map(_._2))
          }
          (schema, rows)
        }
      }
    }
  }

  override def build(): Scan = aggPushed match {
    case Some((schema, rows)) =>
      new GraftLocalAggScan(schema, rows.toArray,
        s"GraftLocalAggScan(gen=${manifest.gen}, metadata-only aggregate)")
    case None =>
      new GraftScan(dir, manifest, keptEntries, required, dataFilters,
        streamOpts, partFilters, fileFilters)
  }
}

/** Driver-computed aggregate result delivered as a V2 [[LocalScan]]: Spark
  * plans it as a LocalTableScan — no tasks, no file IO (see the pushdown
  * soundness gates on [[GraftScanBuilder.supportCompletePushDown]]). */
class GraftLocalAggScan(schema: StructType, result: Array[InternalRow], desc: String)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = result
  override def description(): String = desc
}

/**
 * HIDDEN PARTITIONING transforms (B237 — the Iceberg partition-transform
 * set: bucket, days, truncate): a partition spec entry may be a canonical
 * transform string (`bucket(n,col)`, `days(col)`, `truncate(w,col)`)
 * instead of a column name. The SOURCE column stays in the data files
 * (nothing is stripped — queries filter on the REAL column and never see
 * the derived value), the writer derives the directory value per row, and
 * the scan prunes predicates on the source column to the matching
 * directories. The path KEY is the canonical transform string itself, so a
 * transform spec is spec-machinery-transparent: partValues key sets equal
 * partCols, specUniform and the B232 evolution logic hold unchanged, and
 * the per-spec readers strip nothing (the transform string matches no
 * schema field).
 *
 * Every transform is deliberately transparent — an oracle, or a user, can
 * replay a row's directory value:
 *   - bucket(n,col):    floorMod(col, n), integral sources only;
 *   - days/hours/months/years(col): the epoch-unit ordinal — floorDiv of
 *                       micros for days/hours, the UTC calendar ordinal
 *                       ((y-1970)*12+m-1 / y-1970) for months/years; DATE
 *                       sources use their stored day ordinal (hours refuses
 *                       DATE — no sub-day time). All four are MONOTONIC in
 *                       the source, so range predicates prune unit-range
 *                       directories (the time-partitioned fact table's
 *                       bread-and-butter scan shape at 100 TB), with
 *                       boundary-exact strict upper bounds dropping the
 *                       boundary directory;
 *   - truncate(w,col):  v - floorMod(v, w) for integral sources (monotonic
 *                       — ranges prune), the first w CODE POINTS for STRING
 *                       sources (equality and prefix predicates prune).
 */
object GraftTransforms {
  import org.apache.spark.sql.connector.expressions.{Expressions, Transform}

  /** The V2 Transform for a partition-spec entry — the ONE mapping both the
    * read side ([[GraftTable.partitioning]]) and the write side
    * ([[GraftWrite.requiredDistribution]]) report, so they can never
    * diverge on a transform kind or argument order. */
  def toV2Transform(partCol: String): Transform = transformOf(partCol) match {
    case Some(BucketT(n, src)) => Expressions.bucket(n, src)
    case Some(t: TemporalT) => t.unit match {
      case "days" => Expressions.days(t.source)
      case "hours" => Expressions.hours(t.source)
      case "months" => Expressions.months(t.source)
      case _ => Expressions.years(t.source)
    }
    case Some(TruncT(w, src)) =>
      Expressions.apply("truncate", Expressions.literal(w), Expressions.column(src))
    case None => Expressions.identity(partCol)
  }

  private val Bucket = """^bucket\((\d+),([\w$]+)\)$""".r
  private val Temporal = """^(days|hours|months|years)\(([\w$]+)\)$""".r
  private val Truncate = """^truncate\((\d+),([\w$]+)\)$""".r

  val MicrosPerDay: Long = 86400000000L
  val MicrosPerHour: Long = 3600000000L

  /** One parsed partition-spec transform entry. */
  sealed trait PartTransform { def source: String; def canonical: String }
  final case class BucketT(n: Int, source: String) extends PartTransform {
    def canonical: String = s"bucket($n,$source)" }
  /** The calendar family (days/hours/months/years) shares one shape: a
    * MONOTONIC epoch-unit ordinal, so equality AND range predicates prune —
    * see [[TemporalT.unitValue]]. */
  final case class TemporalT(unit: String, source: String) extends PartTransform {
    def canonical: String = s"$unit($source)"
    /** Ordinal of a micros-since-epoch instant in this unit (UTC calendar
      * for months/years — the Iceberg transform definition). */
    def unitValue(micros: Long): Long = unit match {
      case "days" => Math.floorDiv(micros, MicrosPerDay)
      case "hours" => Math.floorDiv(micros, MicrosPerHour)
      case _ =>
        val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, MicrosPerDay))
        if (unit == "months") (d.getYear - 1970) * 12L + (d.getMonthValue - 1)
        else (d.getYear - 1970).toLong
    }
    /** Ordinal of an epoch-DAY (DATE sources). */
    def unitValueDays(days: Int): Long = unit match {
      case "days" => days.toLong
      case "hours" => days.toLong * 24L
      case _ =>
        val d = java.time.LocalDate.ofEpochDay(days.toLong)
        if (unit == "months") (d.getYear - 1970) * 12L + (d.getMonthValue - 1)
        else (d.getYear - 1970).toLong
    }
    /** Does this instant sit EXACTLY on the unit's lower boundary? Lets a
      * strict `<` drop the boundary directory (see the pruning code). */
    def isBoundary(micros: Long): Boolean = unit match {
      case "days" => java.lang.Math.floorMod(micros, MicrosPerDay) == 0L
      case "hours" => java.lang.Math.floorMod(micros, MicrosPerHour) == 0L
      case _ =>
        java.lang.Math.floorMod(micros, MicrosPerDay) == 0L && {
          val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, MicrosPerDay))
          d.getDayOfMonth == 1 && (unit == "months" || d.getMonthValue == 1)
        }
    }
    def isBoundaryDays(days: Int): Boolean = unit match {
      case "days" => true
      case "hours" => true
      case _ =>
        val d = java.time.LocalDate.ofEpochDay(days.toLong)
        d.getDayOfMonth == 1 && (unit == "months" || d.getMonthValue == 1)
    }
  }
  final case class TruncT(w: Int, source: String) extends PartTransform {
    def canonical: String = s"truncate($w,$source)" }

  def transformOf(partCol: String): Option[PartTransform] = partCol match {
    case Bucket(n, c) => Some(BucketT(n.toInt, c))
    case Temporal(u, c) => Some(TemporalT(u, c))
    case Truncate(w, c) => Some(TruncT(w.toInt, c))
    case _ => None
  }

  def canonical(n: Int, col: String): String = s"bucket($n,$col)"

  /** Split a comma-separated spec list WITHOUT splitting inside transform
    * parens — "pk,bucket(8,k)" → ["pk", "bucket(8,k)"]. Used by the manifest
    * `parts=` codec and the set_partition_spec CALL argument. */
  def splitSpec(csv: String): Seq[String] = {
    if (csv.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    csv.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Parse a canonical bucket partCol; None for identity columns and the
    * other transform kinds. */
  def bucketOf(partCol: String): Option[(Int, String)] =
    transformOf(partCol).collect { case BucketT(n, c) => (n, c) }

  def isTransform(partCol: String): Boolean = transformOf(partCol).isDefined

  def bucketValue(v: Long, n: Int): Long = java.lang.Math.floorMod(v, n.toLong)

  /** Epoch-day ordinal of a TIMESTAMP's micros — the days(col) directory
    * value. floorDiv matches `CAST(ts AS DATE)` for pre-1970 values too. */
  def daysValueMicros(micros: Long): Long = Math.floorDiv(micros, MicrosPerDay)

  /** truncate(w,col) over an integral source: the width-w bin floor —
    * monotonic, so range predicates prune directory ranges. SATURATES at
    * Long.MinValue: for v within w-1 of it the mathematical floor is not
    * representable and plain subtraction would WRAP to a huge positive key,
    * which range pruning (`r < probe`) would then drop — silently losing
    * rows. Saturation keeps every such v in one lowest bin, identically in
    * the writer, the pruner, and the catalog function (all route here), and
    * stays monotone/conservative for every pruning shape. */
  def truncLong(v: Long, w: Int): Long = {
    val m = java.lang.Math.floorMod(v, w.toLong)
    if (v < Long.MinValue + m) Long.MinValue else v - m
  }

  /** truncate(w,col) over a STRING source: the first w CODE POINTS (via
    * UTF8String, so the writer, the catalog `truncate` function, and the
    * pruner agree on surrogate pairs). */
  def truncString(s: String, w: Int): String =
    org.apache.spark.unsafe.types.UTF8String.fromString(s).substring(0, w).toString

  /** Source columns referenced by transform entries of a spec. */
  def sources(partCols: Iterable[String]): Set[String] =
    partCols.flatMap(pc => transformOf(pc).map(_.source)).toSet

  private def sourceField(c: String, kind: String, schema: StructType): StructField =
    schema.fields.find(_.name == c).getOrElse(throw
      new IllegalArgumentException(s"$kind source column $c missing from schema"))

  /** Validate one spec entry against a schema (CREATE / set_partition_spec). */
  def validate(partCol: String, schema: StructType): Unit = transformOf(partCol) match {
    case Some(BucketT(n, c)) =>
      require(n > 0, s"bucket($n,$c): bucket count must be positive")
      val f = sourceField(c, "bucket", schema)
      require(Set[DataType](LongType, IntegerType, ShortType)(f.dataType),
        s"bucket source column $c must be integral, got ${f.dataType.sql}")
    case Some(TemporalT(u, c)) =>
      val f = sourceField(c, u, schema)
      require(f.dataType == TimestampType || f.dataType == DateType,
        s"$u source column $c must be TIMESTAMP or DATE, got ${f.dataType.sql}")
      require(u != "hours" || f.dataType == TimestampType,
        s"hours source column $c must be TIMESTAMP — a DATE carries no sub-day time")
    case Some(TruncT(w, c)) =>
      require(w > 0, s"truncate($w,$c): width must be positive")
      val f = sourceField(c, "truncate", schema)
      require(Set[DataType](LongType, IntegerType, ShortType, StringType)(f.dataType),
        s"truncate source column $c must be integral or STRING, got ${f.dataType.sql}")
    case None =>
      require(schema.fieldNames.contains(partCol),
        s"partition column $partCol missing from schema")
      val dt = schema(schema.fieldIndex(partCol)).dataType
      require(Set[DataType](StringType, IntegerType, LongType, ShortType)(dt),
        s"partition column $partCol has unsupported type ${dt.sql} — " +
          "STRING/INT/BIGINT/SMALLINT partition keys only")
  }
}


/** The catalog-resolved `bucket` ScalarFunction (B237): floorMod of the
  * integral source over the bucket count — byte-identical to the writer's
  * directory derivation and the scan's pruning arithmetic, which is the
  * whole point of resolving it FROM the catalog. */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col) - floorMod(col, n) partition transform"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets, value), got ${inputType.simpleString}")
    val vt = inputType.fields(1).dataType
    require(Set[DataType](LongType, IntegerType, ShortType)(vt),
      s"bucket source must be integral, got ${vt.sql}")
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, vt)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = true
      override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): Integer =
        if (input.isNullAt(1)) null
        else {
          val n = input.getInt(0)
          val v = vt match {
            case LongType => input.getLong(1)
            case IntegerType => input.getInt(1).toLong
            case _ => input.getShort(1).toLong
          }
          Integer.valueOf(GraftTransforms.bucketValue(v, n).toInt)
        }
    }
  }
}

/** The catalog-resolved temporal ScalarFunctions (B237 — days/hours/months/
  * years): the epoch-unit ordinal of a TIMESTAMP (or DATE where sub-day
  * precision isn't needed) — byte-identical to the writer's directory
  * derivation and the scan's pruning arithmetic, same posture as
  * [[GraftBucketFunction]]. */
final case class GraftTemporalFunction(unit: String)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  private val t = GraftTransforms.TemporalT(unit, "_")
  override def name(): String = unit
  override def description(): String =
    s"$unit(col) - epoch-$unit partition transform over TIMESTAMP/DATE"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"$unit expects (value), got ${inputType.simpleString}")
    val vt = inputType.fields(0).dataType
    require(vt == TimestampType || vt == DateType,
      s"$unit source must be TIMESTAMP or DATE, got ${vt.sql}")
    require(unit != "hours" || vt == TimestampType,
      "hours source must be TIMESTAMP — a DATE carries no sub-day time")
    new ScalarFunction[java.lang.Long] {
      override def inputTypes(): Array[DataType] = Array(vt)
      // BIGINT, matching the writer's directory derivation exactly: the
      // unit ordinal is a Long there (an hours ordinal exceeds Int range
      // past year ~246953), and a narrowed result would diverge from the
      // directory key for those extremes.
      override def resultType(): DataType = LongType
      override def name(): String = unit
      override def canonicalName(): String = s"graft.$unit"
      override def isResultNullable: Boolean = true
      override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): java.lang.Long =
        if (input.isNullAt(0)) null
        else if (vt == TimestampType)
          java.lang.Long.valueOf(t.unitValue(input.getLong(0)))
        else java.lang.Long.valueOf(t.unitValueDays(input.getInt(0)))
    }
  }
}

/** The catalog-resolved `truncate` ScalarFunction (B237): width-w bin floor
  * for integral sources, first-w-code-points prefix for STRING — the exact
  * arithmetic the writer and the pruner use. */
object GraftTruncateFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  override def name(): String = "truncate"
  override def description(): String =
    "truncate(w, col) - width-w bin (integral) / w-code-point prefix (string) partition transform"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"truncate expects (width, value), got ${inputType.simpleString}")
    val vt = inputType.fields(1).dataType
    require(Set[DataType](LongType, IntegerType, ShortType, StringType)(vt),
      s"truncate source must be integral or STRING, got ${vt.sql}")
    new ScalarFunction[AnyRef] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, vt)
      // BIGINT for every integral width: the writer derives directory keys
      // in Long space, and an INT column's bin floor can lie below
      // Int.MinValue (e.g. truncate(1000, Int.MinValue) = -2147484000) — a
      // result narrowed back to the source type would WRAP and break the
      // byte-identical-to-writer contract this function exists to honor.
      override def resultType(): DataType =
        if (vt == StringType) StringType else LongType
      override def name(): String = "truncate"
      override def canonicalName(): String = "graft.truncate"
      override def isResultNullable: Boolean = true
      override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): AnyRef =
        if (input.isNullAt(1)) null
        else {
          val w = input.getInt(0)
          vt match {
            case StringType => input.getUTF8String(1).substring(0, w)
            case LongType => java.lang.Long.valueOf(
              GraftTransforms.truncLong(input.getLong(1), w))
            case IntegerType => java.lang.Long.valueOf(
              GraftTransforms.truncLong(input.getInt(1).toLong, w))
            case _ => java.lang.Long.valueOf(
              GraftTransforms.truncLong(input.getShort(1).toLong, w))
          }
        }
    }
  }
}

object GraftScanBuilder {

  /** Rewrite every attribute reference in a V1 filter (column mapping:
    * logical filter names → the physical names stats and parquet footers
    * are keyed by). Unknown shapes pass through untouched — they are only
    * ever used for pruning, where an untranslated name is merely unpruned,
    * never wrong. */
  def renameFilter(f: Filter, m: String => String): Filter = f match {
    case EqualTo(a, v)            => EqualTo(m(a), v)
    case EqualNullSafe(a, v)      => EqualNullSafe(m(a), v)
    case GreaterThan(a, v)        => GreaterThan(m(a), v)
    case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(m(a), v)
    case LessThan(a, v)           => LessThan(m(a), v)
    case LessThanOrEqual(a, v)    => LessThanOrEqual(m(a), v)
    case In(a, vs)                => In(m(a), vs)
    case IsNull(a)                => IsNull(m(a))
    case IsNotNull(a)             => IsNotNull(m(a))
    case StringStartsWith(a, v)   => StringStartsWith(m(a), v)
    case StringEndsWith(a, v)     => StringEndsWith(m(a), v)
    case StringContains(a, v)     => StringContains(m(a), v)
    case And(l, r)                => And(renameFilter(l, m), renameFilter(r, m))
    case Or(l, r)                 => Or(renameFilter(l, m), renameFilter(r, m))
    case Not(c)                   => Not(renameFilter(c, m))
    case other                    => other
  }

  def isPartitionFilter(f: Filter, partCols: Seq[String]): Boolean = f match {
    case EqualTo(a, _)       => partCols.contains(a)
    case EqualNullSafe(a, _) => partCols.contains(a)
    case In(a, _)            => partCols.contains(a)
    case IsNull(a)           => partCols.contains(a)
    case IsNotNull(a)        => partCols.contains(a)
    case _                   => false
  }

  def partValues(partPath: String): Map[String, String] =
    if (partPath.isEmpty) Map.empty
    else partPath.split("/").map { seg =>
      val i = seg.indexOf('=')
      seg.substring(0, i) -> unescapePartValue(seg.substring(i + 1))
    }.toMap

  /** Hive-style percent-escaping for partition VALUES: '/', '=', '%', '\',
    * and control characters would corrupt the path- and line-oriented
    * manifest (a value 'a/b' used to crash every later read of the table) —
    * the same hazard set Hive's own partition-path escaping covers. */
  def escapePartValue(v: String): String = {
    val sb = new StringBuilder
    v.foreach { c =>
      if (c == '/' || c == '=' || c == '%' || c == '\\' || c < ' ' || c == 0x7f)
        sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  def unescapePartValue(v: String): String = {
    if (!v.contains('%')) return v
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 2 < v.length) {
        sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val NullMarker = "__HIVE_DEFAULT_PARTITION__"

  private def typed(raw: String, dt: DataType): Any = dt match {
    case LongType | IntegerType | ShortType => raw.toLong
    case _ => raw
  }

  private def widen(v: Any): Any = v match {
    case i: Int => i.toLong
    case s: Short => s.toLong
    case other => other
  }

  /** Scan-side pruning: conservative — an unevaluable filter keeps the entry.
    * The null-partition marker takes SQL null semantics BEFORE any numeric
    * decode: equality/IN against a null partition is never-match (prune),
    * never a NumberFormatException (a `WHERE pk = 1` on a table holding a
    * null-pk partition used to crash the whole scan). */
  def matches(f: Filter, values: Map[String, String], schema: StructType): Boolean = f match {
    case EqualTo(a, v) =>
      values.get(a).forall(raw =>
        raw != NullMarker && typed(raw, schema(a).dataType) == widen(v))
    case EqualNullSafe(a, v) =>
      values.get(a).forall { raw =>
        if (raw == NullMarker) v == null
        else v != null && typed(raw, schema(a).dataType) == widen(v)
      }
    case In(a, vs) =>
      values.get(a).forall { raw =>
        raw != NullMarker && {
          val t = typed(raw, schema(a).dataType)
          vs.exists(v => v != null && t == widen(v))
        }
      }
    case IsNull(a) => values.get(a).forall(_ == NullMarker)
    case IsNotNull(a) => values.get(a).forall(_ != NullMarker)
    case _ => true
  }

  /** Overwrite-side selection: STRICT — deleting on a filter we cannot evaluate
    * would silently widen an overwrite into a truncate, so refuse instead. */
  def matchesStrict(f: Filter, values: Map[String, String], schema: StructType): Boolean =
    f match {
      case EqualTo(_, _) | EqualNullSafe(_, _) | In(_, _) | IsNull(_) | IsNotNull(_) =>
        matches(f, values, schema)
      case other => throw new UnsupportedOperationException(
        s"graft catalog cannot overwrite by filter $other — partition-key equality only")
    }
}

/**
 * The table's default scan: the NATIVE V2 batch read (inherited — file
 * slices through [[GraftParquetRead]], deletion-vector merge, runtime `_file`
 * filtering, parquet-level data-filter pushdown) plus the streaming source
 * and manifest-fed optimizer statistics. Native-V2 rather than a `V1Scan`
 * bridge on purpose: the V1 wrapper Spark puts around a V1Scan drops
 * `SupportsReportStatistics`, so a bridged scan can never feed numRows/NDV
 * to cost-based join planning — and the bridge pays a double row conversion
 * (InternalRow→Row→InternalRow) the native path doesn't.
 */
class GraftScan(dir: Path, manifest: GraftManifest,
    entries: Seq[(String, String)], required: StructType,
    dataFilters: Array[Filter],
    streamOpts: GraftStreamOptions = GraftStreamOptions(),
    partFilters: Array[Filter] = Array.empty,
    fileFilters: Array[Filter] = Array.empty)
    extends GraftBatchScan(dir, manifest, entries, required, dataFilters,
      partFilters, fileFilters)
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  override def description(): String =
    s"GraftScan(gen=${manifest.gen}, entries=${entries.size}/${manifest.entries.size}, " +
      s"dataFilters=${dataFilters.length})"

  /** Storage-partitioned joins (B168, the Iceberg SPJ design): report the
    * table's physical layout as a [[KeyGroupedPartitioning]] over the
    * partition columns — each input slice carries its partition-key row
    * ([[GraftFileSlice.partitionKey]]), Spark groups slices per key, and a
    * join of two tables partitioned the same way satisfies both sides'
    * distribution WITHOUT a shuffle (`spark.sql.sources.v2.bucketing.enabled`;
    * at 100 TB this deletes the dominant exchange of every co-partitioned
    * fact-fact join). Reported only when every partition column survives into
    * the scan output — Spark resolves the key expressions against the scan
    * schema, so advertising a pruned column would fail the query, not just
    * the optimization. Unpartitioned (or pruned) scans report unknown. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val keySchema = spjKeySchema
    if (keySchema.nonEmpty) {
      val nGroups = currentEntries.map(_._1).distinct.size
      new KeyGroupedPartitioning(
        keySchema.map { case (c, _) => Expressions.identity(c): Expression }.toArray,
        math.max(1, nGroups))
    } else new UnknownPartitioning(math.max(1, currentEntries.size))
  }

  /** Widen runtime filtering to projected PARTITION columns: Spark's dynamic
    * partition pruning then drops whole manifest partitions at runtime from a
    * joined dim's build-side values (the V2 twin of DPP on Hive layouts) —
    * each planned as its own single-attribute IN, so the V1 translation that
    * the struct-IN caveat on the base class describes is never involved.
    * Only PROJECTED attributes: the DPP rule resolves these names against the
    * scan output and fails the QUERY on a miss, not just the pruning. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val out = required.fieldNames.toSet
    (super.filterAttributes().toSeq ++
      manifest.partCols.filter(out).map(Expressions.column)).toArray
  }

  /**
   * Manifest-fed optimizer statistics for exactly the files this scan kept
   * (post partition/min-max/bloom pruning) — all driver-side metadata, zero
   * file IO:
   *  - sizeInBytes / numRows from the per-file byte and row counts (row
   *    counts ignore deletion vectors — a small overestimate is the safe
   *    direction for planning);
   *  - per-column distinctCount from merging the kept files' HLL sketches
   *    (data columns) or from the distinct directory values (partition
   *    columns — exact and free);
   *  - per-column nullCount from the file stats strings.
   * This is what `spark.sql.cbo.enabled` join-size estimation and join
   * reordering consume; without column NDV the CBO treats every join as
   * cardinality-unknown. Columns/files from pre-NDV-vintage manifests simply
   * contribute no column stats — never wrong stats.
   */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    import java.util.OptionalLong
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val rels = entries.map(_._2)
    val bytesKnown = rels.flatMap(manifest.fileBytes.get)
    val size =
      if (bytesKnown.size == rels.size) OptionalLong.of(math.max(1L, bytesKnown.sum))
      else OptionalLong.empty()
    val rowsKnown = rels.flatMap(manifest.fileRows.get)
    val rows =
      if (rowsKnown.size == rels.size) OptionalLong.of(rowsKnown.sum)
      else OptionalLong.empty()
    val cstats = new java.util.HashMap[NamedReference, ColumnStatistics]()
    def put(name: String, ndv: Option[Long], nulls: Option[Long]): Unit =
      if (ndv.isDefined || nulls.isDefined)
        cstats.put(Expressions.column(name), new ColumnStatistics {
          override def distinctCount(): OptionalLong =
            ndv.fold(OptionalLong.empty())(OptionalLong.of)
          override def nullCount(): OptionalLong =
            nulls.fold(OptionalLong.empty())(OptionalLong.of)
        })
    // Partition columns: the manifest IS the exact value list — but only
    // when every file carries the column in its path (specUniform, B232);
    // on a mixed table old files hold unknown values in data, so publishing
    // the path-derived count would be a WRONG statistic, not a missing one.
    if (manifest.specUniform) {
      val partVals = entries.map { case (pp, _) => GraftScanBuilder.partValues(pp) }
      manifest.partCols.filter(required.fieldNames.contains).foreach { pc =>
        // NDV counts NON-NULL values only (the ColumnStat contract — the
        // data-column path below filters the same way): the null-marker
        // directory is a null, not a distinct value. Its row count, exactly
        // derivable from per-file rows, publishes as nullCount instead.
        val ndv = partVals.flatMap(_.get(pc))
          .filter(_ != "__HIVE_DEFAULT_PARTITION__").distinct.size.toLong
        val nullRels = entries.zip(partVals).collect {
          case ((_, rel), pv)
              if pv.get(pc).contains("__HIVE_DEFAULT_PARTITION__") => rel
        }
        val nullKnown = nullRels.flatMap(manifest.fileRows.get)
        val nulls =
          if (nullKnown.size == nullRels.size) Some(nullKnown.sum) else None
        put(pc, Some(ndv), nulls)
      }
    }
    // Data columns: merged HLL union across kept files + summed null counts.
    lazy val allSketches = GraftNdv.parsedSketches(dir.toString, manifest)
    lazy val ndvByFile = rels.map(r =>
      if (manifest.fileNdvs.contains(r)) Some(allSketches(r)) else None)
    lazy val statsByFile = rels.map(r => manifest.fileStats.get(r).map(GraftFileStats.parse))
    required.fields
      .filter(f => !manifest.partCols.contains(f.name))
      .filter(f => GraftFileStats.eligible(f.dataType))
      .foreach { f =>
        val ndv: Option[Long] =
          if (rels.nonEmpty && ndvByFile.forall(_.isDefined)) {
            val regs = new Array[Byte](GraftNdv.Registers)
            var saw = false
            ndvByFile.foreach(_.get.get(manifest.physicalName(f.name)).foreach { r =>
              GraftNdv.merge(regs, r); saw = true })
            // Every kept file carries sketches but none has this column's ⇒
            // the column is all-null across the scan: NDV 0 is exact.
            Some(if (saw) GraftNdv.estimate(regs) else 0L)
          } else None
        val nulls: Option[Long] =
          if (rels.nonEmpty && statsByFile.forall(_.isDefined)) {
            val per = statsByFile.map(_.get.get(manifest.physicalName(f.name)).map(_._1))
            if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
          } else None
        put(f.name, ndv, nulls)
      }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): OptionalLong = size
      override def numRows(): OptionalLong = rows
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] = cstats
    }
  }

  /** Streaming read: the catalog table as a micro-batch SOURCE — each committed
    * generation is an offset (see [[GraftMicroBatchStream]]). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(dir, manifest, required, streamOpts,
      Option(checkpointLocation))
}

/** Generation number as a streaming offset. */
case class GenOffset(gen: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = gen.toString
}

case class GraftFileSlice(partPath: String, rel: String, len: Long,
    dvRel: String = "", partKeySchema: Seq[(String, DataType)] = Nil)
  extends org.apache.spark.sql.connector.read.InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Partition-key row for storage-partitioned joins (B168): Spark groups
    * slices by this row when the scan reports [[KeyGroupedPartitioning]], so
    * two tables partitioned the same way join with ZERO shuffle. Values come
    * from the slice's directory path — the same source of truth the batch
    * reader re-attaches partition columns from, so key and data can't
    * disagree. Only consulted when `partKeySchema` is non-empty (the scan
    * reports unknown partitioning otherwise). */
  override def partitionKey(): InternalRow = {
    val values = GraftScanBuilder.partValues(partPath)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      partKeySchema.map { case (c, dt) =>
        // catalystValue maps the writer's null marker to NULL, so the key
        // row and the reader's re-attached value agree on null partitions.
        GraftMicroBatchStream.catalystValue(values(c), dt) }.toArray[Any])
  }
}

/**
 * The catalog table as a STREAMING SOURCE (Delta-style table streaming): the
 * offset axis is the manifest generation number, and batch (from, to] is the
 * file-set difference entries(to) ∖ entries(from) — exactly the files the
 * commits in that range added, resolved from immutable manifests, so replays
 * are deterministic forever. A fresh query starts at generation 0 (the empty
 * pre-create manifest), so the current snapshot arrives as the first batch and
 * every later commit arrives incrementally — streaming and batch reads of the
 * same table can never disagree on contents.
 *
 * Semantics are append-derived (like Delta's new-files mode): overwrites and
 * deletes REMOVE entries, which a file-addition stream intentionally does not
 * re-emit. Rows are decoded on executors through Spark's own parquet reader
 * (`ParquetFileFormat.buildReaderWithPartitionValues` — the exact code path
 * batch file scans use), with the vectorized reader disabled on a cloned
 * session so the iterator yields true rows, and partition-column values
 * re-attached from the directory path the same way the batch scan does.
 */
class GraftMicroBatchStream(dir: Path, manifest: GraftManifest, required: StructType,
    streamOpts: GraftStreamOptions = GraftStreamOptions(),
    checkpointLocation: Option[String] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}

  private def conf = SparkSession.active.sessionState.newHadoopConf()
  private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(GraftManifest.currentGen(dir, conf))
  /** -1 = "the empty table before any commit": a fresh query's first batch is
    * the full current snapshot even when VACUUM has deleted manifest-0.
    * `startingVersion` (the Delta knob) starts AFTER a known generation
    * instead — batch 1 is then commit N+1's delta, no snapshot re-emit
    * (the CDC-resume case: a replica bootstrapped from a batch read of
    * version N subscribes to changes from there). */
  override def initialOffset(): Offset =
    GenOffset(streamOpts.startingVersion.getOrElse(-1L))
  override def latestOffset(): Offset =
    GenOffset(availableNowTarget.getOrElse(GraftManifest.currentGen(dir, conf)))
  /** Admission control: a batch may advance at most maxGensPerTrigger
    * generations AND at most ~maxBytesPerTrigger of emitted file bytes
    * (tighter bound wins) — AvailableNow then drains in several micro-batches
    * until reportLatestOffset is reached (the paced-drain contract the synth
    * source pins in its spec). Called once per trigger with the stream's
    * current committed position, which makes it the natural place to renew
    * this reader's VACUUM lease (see [[GraftLease]]): the lease records the
    * oldest generation this checkpoint still needs, and vacuum refuses to
    * reclaim at-or-past it. */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val target = latestOffset().asInstanceOf[GenOffset].gen
    val from = start.asInstanceOf[GenOffset].gen
    checkpointLocation.foreach(ck => GraftLease.renew(dir, ck, from, conf))
    val pacedGens = streamOpts.maxGensPerTrigger.fold(target)(m => math.min(target, from + m))
    // VACUUM deletes manifests below its retention horizon: a paced
    // intermediate end offset (from+m) may name a deleted manifest — e.g. a
    // fresh query (start=-1) over a vacuumed table would try manifest-0.
    // Clamp the end FORWARD to the oldest retained generation so the first
    // batch lands on a manifest that still exists (its entry list carries the
    // full surviving snapshot, so no rows are skipped by the jump).
    val lo = math.max(math.min(from + 1, target), math.min(oldestRetainedGen, target))
    val paced =
      if (pacedGens >= target) pacedGens
      else math.max(pacedGens, lo)
    GenOffset(streamOpts.maxBytesPerTrigger match {
      case None => paced
      case Some(_) if from >= target => paced
      case Some(maxBytes) =>
        // Byte pacing: a batch [from → e] emits entries(e) \ entries(from)
        // (exactly what planInputPartitions delivers), so walk candidate end
        // generations forward while that cumulative diff's manifest byte sum
        // stays under the cap. Always admit at least one generation (progress
        // guarantee — same posture as maxGensPerTrigger), and never loosen a
        // tighter generation cap. Driver-side manifest reads only, no file
        // IO; files from pre-byte-vintage manifests count 0 (admission is
        // pacing, not correctness — planInputPartitions stays byte-exact).
        val base: Set[String] =
          if (from < 0) Set.empty
          else if (!dir.getFileSystem(conf).exists(new Path(dir, s"manifest-$from.txt"))) Set.empty
          else GraftManifest.load(dir, from, conf).entries.map(_._2).toSet
        def diffBytes(g: Long): Long = {
          val m = GraftManifest.load(dir, g, conf)
          m.entries.collect { case (_, rel) if !base(rel) =>
            m.fileBytes.getOrElse(rel, 0L) }.sum
        }
        var end = lo
        var g = lo + 1
        while (g <= math.min(paced, target) && diffBytes(g) <= maxBytes) {
          end = g; g += 1
        }
        math.min(end, paced)
    })
  }

  /** Oldest generation of the CONTIGUOUS manifest suffix ending at the
    * newest one. Not simply the minimum on disk: a TAGGED old generation
    * survives VACUUM as an isolated island (B178), and clamping a paced
    * stream's first batch to an island would emit a stale snapshot and then
    * wedge on the reclaimed gap right after it. */
  private def oldestRetainedGen: Long = {
    val gens = GraftManifest.generations(dir, conf).map(_._1).toSet
    if (gens.isEmpty) 0L
    else {
      var g = gens.max
      while (gens.contains(g - 1)) g -= 1
      g
    }
  }
  override def reportLatestOffset(): Offset = latestOffset()
  override def deserializeOffset(json: String): Offset = GenOffset(json.trim.toLong)
  /** Batch [.. → end] durably committed by the engine: this checkpoint now
    * needs nothing older than `end` — advance the lease so VACUUM can move. */
  override def commit(end: Offset): Unit =
    checkpointLocation.foreach(ck =>
      GraftLease.renew(dir, ck, end.asInstanceOf[GenOffset].gen, conf))
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[GenOffset].gen, end.asInstanceOf[GenOffset].gen)
    if (s >= e) return Array.empty
    val c = conf
    // A vacuumed-away start generation means this checkpoint's position no
    // longer exists — fail with the cause rather than re-emitting the world.
    // Same backstop for the end offset (a checkpointed intermediate end can
    // be vacuumed between restarts).
    def retained(g: Long): Unit = GraftManifest.requireRetained(dir, g, c)(
      s"stream offset generation $g was removed by VACUUM — " +
        "restart the query with a fresh checkpoint")
    val before: Set[String] =
      if (s < 0) Set.empty
      else { retained(s); GraftManifest.load(dir, s, c).entries.map(_._2).toSet }
    retained(e)
    val endManifest = GraftManifest.load(dir, e, c)
    val added = endManifest.entries.filterNot { case (_, r) => before(r) }
    lazy val fs = dir.getFileSystem(c)
    added.map { case (pp, rel) =>
      val len = endManifest.fileBytes.getOrElse(rel,
        fs.getFileStatus(GraftManifest.resolveRel(dir, rel)).getLen)
      // A file streams with the deletion vector it carried AT ITS EMITTING
      // generation — the snapshot the batch claims to deliver. (Later DV
      // growth is a row REMOVAL, which an append-derived stream intentionally
      // does not re-emit — same posture as entry removals above.)
      GraftFileSlice(pp, rel, len,
        endManifest.fileDVs.getOrElse(rel, "")): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // Row-based on purpose: streamed slices carry their at-emission DV, and
    // the engine forbids mixing columnar and row partitions in one batch.
    GraftParquetRead.readerFactory(dir.toString, manifest, required,
      allowColumnar = false)
}

/**
 * Batch-queryable METADATA twin tables (the Iceberg metadata-table surface):
 *   - `t$history`    — one row per committed generation (commits over time);
 *   - `t$files`      — one row per live data file of the CURRENT snapshot
 *                      (partition, size, rows, whether it carries a DV);
 *   - `t$partitions` — one row per live partition (file/row/byte totals).
 * All three answer from manifests on the DRIVER — the scan is a V2
 * LocalScan, zero tasks and zero data IO at any table size — and compose
 * with the full SQL surface (joins, filters, aggregates) like any relation.
 */
class GraftMetaTable(ident: Identifier, dir: Path, kind: String)
    extends Table with SupportsRead {
  import GraftMetaTable._
  override def name(): String = s"graft.${ident.name()}$$$kind"
  override def schema(): StructType = schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        val conf = SparkSession.active.sessionState.newHadoopConf()
        new GraftLocalAggScan(schemaOf(kind), rowsOf(kind, dir, conf).toArray,
          s"GraftMetaScan($kind, metadata-only)")
      }
    }
}

object GraftMetaTable {
  val Kinds = Seq("history", "files", "partitions", "tags", "branches", "txns")

  import org.apache.spark.sql.types.StructField
  def schemaOf(kind: String): StructType = kind match {
    case "history" => StructType(Seq(
      StructField("gen", LongType, false),
      StructField("n_files", LongType, false),
      StructField("n_partitions", LongType, false),
      StructField("n_txns", LongType, false)))
    case "files" => StructType(Seq(
      StructField("partition", StringType, false),
      StructField("file", StringType, false),
      StructField("bytes", LongType, true),
      StructField("rows", LongType, true),
      StructField("has_dv", org.apache.spark.sql.types.BooleanType, false)))
    case "partitions" => StructType(Seq(
      StructField("partition", StringType, false),
      StructField("n_files", LongType, false),
      StructField("rows", LongType, true),
      StructField("bytes", LongType, true)))
    case "tags" => StructType(Seq(
      StructField("name", StringType, false),
      StructField("gen", LongType, false)))
    case "branches" => StructType(Seq(
      StructField("name", StringType, false),
      StructField("head_gen", LongType, false),
      StructField("base_gen", LongType, false)))
    // The txn ledger, parsed: kind ∈ {batch, epoch, copy, mview} — the
    // idempotence keys (B180), exactly-once epochs, COPY INTO file markers
    // (B200), and materialized-view fold floors (B198) all ride it.
    case "txns" => StructType(Seq(
      StructField("kind", StringType, false),
      StructField("key", StringType, false)))
  }

  private def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)

  def rowsOf(kind: String, dir: Path, conf: Configuration): Seq[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val cur = GraftManifest.currentGen(dir, conf)
    kind match {
      case "history" =>
        (0L to cur).flatMap { g =>
          // VACUUM may have dropped old manifests — history shows what remains.
          try {
            val m = GraftManifest.load(dir, g, conf)
            Some(new GenericInternalRow(Array[Any](g, m.entries.size.toLong,
              m.entries.map(_._1).distinct.size.toLong, m.txns.size.toLong)): InternalRow)
          } catch { case _: Exception => None }
        }
      case "files" =>
        val m = GraftManifest.load(dir, cur, conf)
        m.entries.map { case (pp, rel) =>
          new GenericInternalRow(Array[Any](utf8(pp), utf8(rel),
            m.fileBytes.get(rel).map(Long.box).orNull,
            m.fileRows.get(rel).map(Long.box).orNull,
            m.fileDVs.contains(rel))): InternalRow
        }
      case "tags" =>
        GraftCatalogOps.listTags(dir, conf).toSeq.sortBy(_._1).map { case (n, g) =>
          new GenericInternalRow(Array[Any](utf8(n), g)): InternalRow
        }
      case "branches" =>
        GraftCatalogOps.listBranches(dir, conf).toSeq.sortBy(_._1).map { case (n, head) =>
          val base = GraftCatalogOps.resolveBranch(dir, n, conf)
            .flatMap(_.props.get("branch.base")).map(_.toLong).getOrElse(-1L)
          new GenericInternalRow(Array[Any](utf8(n), head, base)): InternalRow
        }
      case "txns" =>
        val m = GraftManifest.load(dir, cur, conf)
        m.txns.toSeq.sorted.map { t =>
          val (kind, key) =
            if (t.startsWith("batch:mview:")) ("mview", t.stripPrefix("batch:mview:"))
            else if (t.startsWith("batch:")) ("batch", t.stripPrefix("batch:"))
            else if (t.startsWith("copy:")) ("copy", t.stripPrefix("copy:"))
            else ("epoch", t)
          new GenericInternalRow(Array[Any](utf8(kind), utf8(key))): InternalRow
        }
      case "partitions" =>
        val m = GraftManifest.load(dir, cur, conf)
        m.entries.groupBy(_._1).toSeq.sortBy(_._1).map { case (pp, es) =>
          val rels = es.map(_._2)
          val rows =
            if (rels.forall(m.fileRows.contains)) Long.box(rels.map(m.fileRows).sum)
            else null
          val bytes =
            if (rels.forall(m.fileBytes.contains)) Long.box(rels.map(m.fileBytes).sum)
            else null
          new GenericInternalRow(Array[Any](utf8(pp), rels.size.toLong,
            rows, bytes)): InternalRow
        }
    }
  }
}

/**
 * CHANGE DATA FEED (B170): the `t$changes` twin of a catalog table, whose rows
 * are t's row-level changes, each tagged `_change_type` ('insert' | 'delete')
 * and `_commit_version`. No change files are written at commit time: the
 * feed is recovered from what the format already records, generation by
 * generation, as the slices [[GraftChangeSlice.plan]] plans. Both feeds read
 * through it:
 *   - by name, `t$changes` is streaming-only. Offsets are manifest
 *     generations (same axis, pacing, vacuum leases, and checkpoint semantics
 *     as the base table's stream); a fresh query's first batch delivers the
 *     live snapshot as inserts, and each later batch its generations' slices
 *     (a delta UPDATE therefore streams as its delete+insert pair);
 *   - [[GraftCatalogOps.changes]] builds the table with its range's slices
 *     already planned (`slices`) and reads them as one batch scan. That
 *     object is never reachable by name.
 * A rewrite generation (overwrite / copy-on-write DML / OPTIMIZE) REMOVES
 * files whose rows it re-copies verbatim; only the batch feed's netting can
 * cancel those copies, so the stream refuses such a generation with a
 * pointer to it. On `dml=dv` tables every DML is delta-based, so the stream
 * covers the full DML surface there.
 */
class GraftChangesTable(ident: Identifier, dir: Path, manifest: GraftManifest,
    slices: Option[Seq[GraftChangeSlice]] = None)
    extends Table with SupportsRead {
  override def name(): String = s"graft.${ident.name()}$$changes@${manifest.gen}"
  override def schema(): StructType = GraftChangesTable.changeSchema(manifest)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      if (slices.isEmpty) TableCapability.MICRO_BATCH_READ else TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val streamOpts = GraftStreamOptions(
      maxGensPerTrigger = Option(options.get("maxGensPerTrigger")).map(_.toLong),
      maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      startingVersion = Option(options.get("startingVersion")).map(_.toLong))
    new GraftChangesScanBuilder(dir, manifest, streamOpts, slices)
  }
}

object GraftChangesTable {
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"
  /** The table's columns plus the two change columns. A table column named
    * like one of those (Delta reserves the same names under CDF) would be
    * overwritten or made ambiguous, so both feeds refuse such a table. */
  def changeSchema(manifest: GraftManifest): StructType = {
    manifest.schema.fieldNames.find(n =>
      n.equalsIgnoreCase(ChangeType) || n.equalsIgnoreCase(CommitVersion)).foreach { n =>
      throw new IllegalArgumentException(s"column `$n` collides with the change " +
        s"feed's own `$ChangeType` / `$CommitVersion` columns — rename it to read " +
        "the table's changes")
    }
    StructType(manifest.schema.fields :+
      org.apache.spark.sql.types.StructField(ChangeType, StringType, false) :+
      org.apache.spark.sql.types.StructField(CommitVersion, LongType, false))
  }
}

class GraftChangesScanBuilder(dir: Path, manifest: GraftManifest,
    streamOpts: GraftStreamOptions, slices: Option[Seq[GraftChangeSlice]])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = GraftChangesTable.changeSchema(manifest)
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new Scan {
    override def readSchema(): StructType = required
    override def description(): String =
      s"GraftChangesScan(gen=${manifest.gen}${slices.fold("")(s => s", slices=${s.size}")})"
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      new GraftChangesMicroBatchStream(dir, manifest, required, streamOpts,
        Option(checkpointLocation))
    override def toBatch(): org.apache.spark.sql.connector.read.Batch =
      new org.apache.spark.sql.connector.read.Batch {
        override def planInputPartitions()
            : Array[org.apache.spark.sql.connector.read.InputPartition] =
          slices.get.toArray
        override def createReaderFactory()
            : org.apache.spark.sql.connector.read.PartitionReaderFactory =
          GraftChangeSlice.readerFactory(dir.toString, manifest, required)
      }
  }
}

/** One change-feed work unit: `file` read as `changeType` rows of commit
  * `version`, with the deletion vector `file.dvRel` names applied. A
  * POSITIONAL slice (`keep` non-null) reads the file without a DV and keeps
  * exactly the file positions in `keep`. */
case class GraftChangeSlice(file: GraftFileSlice, changeType: String,
    version: Long, keep: Array[Long] = null)
  extends org.apache.spark.sql.connector.read.InputPartition {
  /** A whole file the generation removed (a rewrite), read as deletes. */
  def removedFile: Boolean = changeType == GraftChangeSlice.Delete && keep == null
}

object GraftChangeSlice {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
  import GraftChangesTable.{ChangeType, CommitVersion}
  val Insert = "insert"
  val Delete = "delete"

  /** Data file `rel` of manifest `m` under partition path `pp`, with the DV
    * `m` gives it. */
  def fileSlice(dir: Path, m: GraftManifest, pp: String, rel: String,
      conf: Configuration): GraftFileSlice = {
    val len = m.fileBytes.getOrElse(rel, {
      val p = GraftManifest.resolveRel(dir, rel)
      p.getFileSystem(conf).getFileStatus(p).getLen
    })
    GraftFileSlice(pp, rel, len, m.fileDVs.getOrElse(rel, ""))
  }

  /** Generation g's changes against g-1, the ONE planner both feeds use:
    *   - files g added read as inserts, with their DV at g;
    *   - files g removed read as deletes, with their DV at g-1;
    *   - on files both carry, positions whose DV state flipped read
    *     positionally: newly dead ones as deletes, resurrected ones (a
    *     RESTORE rewinding deletion vectors) as inserts.
    * DV deltas are decoded on the driver; they are metadata-scale. */
  def plan(dir: Path, g: Long, conf: Configuration): Seq[GraftChangeSlice] = {
    val prev = GraftManifest.load(dir, g - 1, conf)
    val cur = GraftManifest.load(dir, g, conf)
    val prevRels = prev.entries.map(_._2).toSet
    val curRels = cur.entries.map(_._2).toSet
    def whole(m: GraftManifest, changeType: String, other: Set[String]) =
      m.entries.collect { case (pp, rel) if !other(rel) =>
        GraftChangeSlice(fileSlice(dir, m, pp, rel, conf), changeType, g) }
    def dead(m: GraftManifest, rel: String): Array[Long] =
      m.fileDVs.get(rel).map(GraftDV.read(dir, _, conf)).getOrElse(Array.empty[Long])
    val flipped = cur.entries.collect {
      case (pp, rel) if prevRels(rel) && cur.fileDVs.get(rel) != prev.fileDVs.get(rel) =>
        val (was, now) = (dead(prev, rel), dead(cur, rel))
        val file = fileSlice(dir, cur, pp, rel, conf).copy(dvRel = "")
        Seq(GraftChangeSlice(file, Delete, g, now.filterNot(was.toSet)),
          GraftChangeSlice(file, Insert, g, was.filterNot(now.toSet)))
    }.flatten.filter(_.keep.nonEmpty)
    whole(cur, Insert, prevRels) ++ whole(prev, Delete, curRels) ++ flipped
  }

  /** The base-table columns behind a pruned change-feed schema. Parquet reads
    * need at least one physical stream, so an all-change-columns projection
    * (e.g. `count(*)` over versions) keeps one narrow base column. */
  private def innerSchema(manifest: GraftManifest, required: StructType): StructType = {
    val base = StructType(required.fields.filterNot(f =>
      f.name == ChangeType || f.name == CommitVersion))
    if (base.fields.nonEmpty) base
    else StructType(Seq(manifest.schema.fields.head))
  }

  /** The ONE slice reader: every slice goes through the catalog's shared
    * parquet decode under `manifest` (policies, column mapping and partition
    * specs applied there) with true `_pos` ordinals, keeps its positions when
    * it names them, and projects each row to `required` with the slice's
    * change type and version. */
  def readerFactory(tableDir: String, manifest: GraftManifest,
      required: StructType): PartitionReaderFactory = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    val inner = innerSchema(manifest, required)
    // `_pos` is never in `inner` (the change schema carries no metadata
    // columns): it lands right after the inner fields, and the slice's two
    // constants right after it.
    val posIdx = inner.length
    val rows = GraftParquetRead.readerFactory(tableDir, manifest,
      StructType(inner.fields :+ org.apache.spark.sql.types.StructField("_pos", LongType, false)),
      allowColumnar = false)
    val out = required.fields.map { f =>
      val i = f.name match {
        case ChangeType => posIdx + 1
        case CommitVersion => posIdx + 2
        case n => inner.fieldIndex(n)
      }
      BoundReference(i, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
    }.toIndexedSeq
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val slice = p.asInstanceOf[GraftChangeSlice]
        val keep = if (slice.keep == null) null else slice.keep.sorted
        val it = rows.createReader(slice.file)
        val consts = new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(slice.changeType), slice.version))
        val joined = new JoinedRow
        val proj = UnsafeProjection.create(out)
        new PartitionReader[InternalRow] {
          private var current: InternalRow = _
          override def next(): Boolean = {
            while (it.next()) {
              current = it.get()
              if (keep == null || GraftDV.contains(keep, current.getLong(posIdx))) return true
            }
            false
          }
          override def get(): InternalRow = proj(joined(current, consts))
          override def close(): Unit = it.close()
        }
      }
    }
  }
}

class GraftChangesMicroBatchStream(dir: Path, manifest: GraftManifest,
    required: StructType, streamOpts: GraftStreamOptions,
    checkpointLocation: Option[String])
    extends GraftMicroBatchStream(dir, manifest, required, streamOpts, checkpointLocation) {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def hconf = SparkSession.active.sessionState.newHadoopConf()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[GenOffset].gen, end.asInstanceOf[GenOffset].gen)
    if (s >= e) return Array.empty
    val c = hconf
    def retained(g: Long): Unit = GraftManifest.requireRetained(dir, g, c)(
      s"change-feed offset generation $g was removed by VACUUM — " +
        "restart the query with a fresh checkpoint")
    retained(e)
    if (s < 0) {
      // Fresh query: the live snapshot arrives as inserts (files with their
      // at-e DV), versioned by each file's committing generation.
      val m = GraftManifest.load(dir, e, c)
      return m.entries.map { case (pp, rel) =>
        val v = GraftParquetRead.genOf(rel)
        GraftChangeSlice(GraftChangeSlice.fileSlice(dir, m, pp, rel, c),
          GraftChangeSlice.Insert, if (v >= 0) v else e): InputPartition
      }.toArray
    }
    retained(s)
    (s + 1 to e).flatMap { g =>
      val slices = GraftChangeSlice.plan(dir, g, c)
      val removed = slices.count(_.removedFile)
      require(removed == 0,
        s"generation $g removed $removed file(s) (overwrite / " +
          "copy-on-write DML / OPTIMIZE) — a streaming change feed cannot " +
          "represent rewrites; use GraftCatalogOps.changes for batch history " +
          "across them (dml=dv tables stream their full DML surface)")
      slices
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftChangeSlice.readerFactory(dir.toString, manifest, required)
}

/** Shared executor-side parquet decode for the catalog's native V2 reads
  * (streaming source batches and row-level-operation scans): rows flow
  * through Spark's own `ParquetFileFormat.buildReaderWithPartitionValues`
  * (the exact code path batch file scans use) with partition-column values
  * re-attached from the directory path. */
object GraftParquetRead {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}

  /** Memo for `ParquetFileFormat.buildReaderWithPartitionValues` closures
    * (r15 optimization, guide §1/§7.3): every call broadcasts a fresh Hadoop
    * conf — Spark serializes it with `Configuration.write`'s per-property
    * GZIP, ~0.3-0.5 s of DRIVER time per scan factory (driver-thread
    * sampling), and catalog DML queries build many factories per query. The
    * built reader function is a pure function of (schemas, filters,
    * returningBatch) AND the session/Hadoop conf it captured — so the key
    * carries a full content fingerprint of the conf (tests legitimately flip
    * session.timeZone / ansi mid-session; a fingerprint match guarantees the
    * memoized closure captured identical state, ~1 ms to compute vs the
    * ~300 ms broadcast it avoids). Bounded LRU (r16, advisor item): the key
    * embeds pushed-down filter LITERALS, which vary per query, and each
    * value captures a broadcast of the ~2k-property Hadoop conf — an
    * unbounded map would leak broadcast blocks in a long-lived session.
    * Access-order eviction at 256 entries (the loadMemo pattern): steady
    * state re-hits the handful of live shapes, evicted closures just
    * rebuild, and their broadcasts become unreferenced and GC-reclaimable. */
  private val readerFnMemo = new java.util.LinkedHashMap[
    (String, StructType, StructType, StructType, Seq[Filter], Boolean),
    org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow]](
      64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (String, StructType, StructType, StructType, Seq[Filter], Boolean),
        org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow]]): Boolean =
      size() > 256
  }

  private def confFingerprint(conf: Configuration): String = {
    var h = 0xcbf29ce484222325L
    def mix(s: String): Unit = {
      var i = 0
      while (i < s.length) { h ^= s.charAt(i) & 0xffffL; h *= 0x100000001b3L; i += 1 }
      h ^= 0x1e; h *= 0x100000001b3L
    }
    // XOR of per-entry hashes: order-independent (Configuration iteration
    // order is hash-map dependent), content-exact.
    var acc = 0L
    val it = conf.iterator()
    while (it.hasNext) {
      val e = it.next()
      h = 0xcbf29ce484222325L; mix(e.getKey); mix(e.getValue)
      acc ^= h
    }
    java.lang.Long.toHexString(acc)
  }

  /** Generation a rel path's file was committed by (-1 for streaming
    * epochs), read from the gen-dir name the writer PLANNED. Known caveat:
    * a CAS-rebased commit keeps its planned dir name but publishes at a
    * LATER generation, so under write races `_gen` (and the change feed's
    * snapshot seed) can report the planned number while the manifest diff
    * reports the committed one — provenance metadata, deliberately cheap
    * (no per-scan lineage walk); consumers needing race-exact commit
    * attribution should read the change feed's incremental path, whose
    * versions come from manifest diffs. */
  def genOf(rel: String): Long = {
    val head = rel.takeWhile(_ != '/')
    if (head.startsWith("gen-")) {
      val digits = head.drop(4).takeWhile(_.isDigit)
      if (digits.nonEmpty) digits.toLong else -1L
    } else -1L
  }

  def readerFactory(tableDir: String, manifest: GraftManifest,
                    required: StructType,
                    dataFilters: Seq[Filter] = Nil,
                    allowColumnar: Boolean = true): PartitionReaderFactory = {
    val rowSession = SparkSession.active
    val conf = new SerializableHadoopConf(rowSession.sessionState.newHadoopConf())
    val metaNames = Set("_gen", "_file", "_pos")
    // ROW/COLUMN policies (B233): compiled on the driver against THIS read's
    // projection; when active, the physical read runs over the projection
    // widened with the policy expressions' inputs, the row filter drops
    // invisible rows AFTER the deletion-vector merge (both are row-identity
    // concerns; DV first so the filter never resurrects a deleted row), and
    // a final projection replaces masked columns — all inside the reader, so
    // every path through this factory (batch, streaming, CDF) is policed.
    val policy = GraftPolicies.compile(manifest, required, rowSession)
    val eff = policy.map(_.internalSchema).getOrElse(required)
    // Filters on masked columns never reach the files or the stats: pruning
    // on RAW values under a predicate Spark re-checks on MASKED output
    // returns wrong rows (see GraftPolicies).
    val maskedNow = GraftPolicies.maskedCols(manifest, rowSession)
    val policedFilters =
      if (maskedNow.isEmpty) dataFilters
      else dataFilters.filterNot(_.references.exists(maskedNow.contains))
    val wantsPos = eff.fieldNames.contains("_pos")
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    // Column mapping (B190): the parquet FILES carry physical names — request
    // and filter by them. Output rows are consumed positionally, so logical
    // naming above the scan is untouched.
    val phys: String => String = manifest.physicalName

    // Per-spec reader machinery, built by `mkSpec` below. A pure-data holder
    // on purpose: a method-local class computing these in its body captures
    // the enclosing scope — including the SparkSession — as hidden outer
    // fields, and the factory ships to executors (the full `sbt test` run
    // caught exactly that as a Task-not-serializable on the session's
    // ObservationManager). The builder LAMBDA may close over the session;
    // the OBJECT it returns must not.
    final class SpecReaders(
        val partFields: Seq[org.apache.spark.sql.types.StructField],
        val readerFn: org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow],
        val unfilteredReaderFn: org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow],
        val batchOk: Boolean,
        val columnarReaderFn: org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow],
        val outIdx: Array[Int],
        val needsRealign: Boolean) extends Serializable

    /**
     * All reader machinery for ONE partition spec — the set of columns a
     * file's partition path strips from its data (B232 partition spec
     * evolution: files of different vintages carry different specs; each is
     * read through its own). A never-evolved table builds exactly one of
     * these, with byte-identical behavior to the pre-evolution code.
     */
    def mkSpec(stripped: Seq[String]): SpecReaders = {
      val dataFields = eff.fields.filterNot(f =>
        stripped.contains(f.name) || metaNames(f.name))
      // THIS spec's data schema: the table schema minus its stripped columns.
      val specDataSchema = StructType(
        manifest.schema.fields.filterNot(f => stripped.contains(f.name)))
      // Row-group skipping: hand the parquet reader the pushed filters that
      // reference THIS spec's data columns only (partition/metadata columns
      // never exist in its files). Spark re-applies every unhandled filter
      // above the scan, so this is purely pruning — ParquetFilters drops what
      // it can't convert. CAVEAT: a filtered read skips rows, which would
      // corrupt the `_pos` ordinal counter below (ordinals must be TRUE file
      // positions for deletion vectors to land on the right rows) — so slices
      // that carry a DV or feed `_pos` read through an UNfiltered twin.
      val dataNames = specDataSchema.fieldNames.toSet
      val parquetFilters = policedFilters.filter(_.references.forall(dataNames))
        .map(f => if (manifest.colMap.isEmpty) f
                  else GraftScanBuilder.renameFilter(f, phys))
      // `_gen` / `_file` ride the partition-values channel: per-file constants
      // the parquet reader appends without the file containing them. `_pos`
      // varies per row — appended by the ordinal counter below instead.
      val partFields = stripped.filter(eff.fieldNames.contains)
        .map(manifest.schema.apply) ++
        required.fields.filter(f => f.name == "_gen" || f.name == "_file")
          .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType,
            nullable = false))
      def buildReader(filters: Seq[Filter], returningBatch: Boolean) = {
        val hconf = rowSession.sessionState.newHadoopConf()
        val key = (confFingerprint(hconf), manifest.physicalize(specDataSchema),
          StructType(partFields), manifest.physicalize(StructType(dataFields)),
          filters, returningBatch)
        readerFnMemo.synchronized {
          val hit = readerFnMemo.get(key)
          if (hit != null) hit else null
        } match {
          case hit if hit != null => hit
          case _ =>
            val built = fmt.buildReaderWithPartitionValues(
              rowSession,
              dataSchema = manifest.physicalize(specDataSchema),
              partitionSchema = StructType(partFields),
              requiredSchema = manifest.physicalize(StructType(dataFields)),
              filters = filters,
              // returningBatch=false: the vectorized reader still runs inside but
              // hands back row views — the contract the row PartitionReader needs.
              // =true: whole ColumnarBatches flow out for the columnar path below.
              options = Map(org.apache.spark.sql.execution.datasources.FileFormat
                .OPTION_RETURNING_BATCH -> returningBatch.toString),
              hadoopConf = hconf)
            readerFnMemo.synchronized { readerFnMemo.put(key, built) }
            built
        }
      }
      val readerFn = buildReader(parquetFilters, returningBatch = false)
      // Position-exact twin for DV/_pos slices (see caveat above).
      val unfilteredReaderFn =
        if (parquetFilters.isEmpty) readerFn else buildReader(Nil, returningBatch = false)
      // COLUMNAR path: when the vectorized reader covers the result schema and
      // no row-ordinal bookkeeping is needed, ship whole ColumnarBatches —
      // BatchScanExec then stays columnar into ColumnarToRow/codegen instead of
      // paying a per-row materialization at the scan boundary (the difference
      // between a vectorized and a row-at-a-time 100 TB scan). Slices carrying
      // a deletion vector force the scan row-based (columnarSupportMode is
      // PARTITION_DEFINED: Spark only goes columnar when EVERY slice agrees —
      // which also keeps a mixed-spec scan row-based whenever its specs
      // disagree on batch support).
      val batchOk = allowColumnar && !wantsPos && policy.isEmpty &&
        fmt.supportBatch(rowSession, StructType(dataFields ++ partFields))
      val columnarReaderFn =
        if (batchOk) buildReader(parquetFilters, returningBatch = true) else null
      // The parquet reader emits dataFields ++ partFields (++ _pos when asked);
      // the scan's readSchema (`required`) may interleave partition columns in
      // table order — realign with an executor-side unsafe projection when the
      // orders differ.
      val readerOrder = (dataFields ++ partFields).map(_.name) ++
        (if (wantsPos) Seq("_pos") else Nil)
      val outIdx = eff.fields.map(f => readerOrder.indexOf(f.name))
      val needsRealign = !outIdx.sameElements(outIdx.indices)
      new SpecReaders(partFields, readerFn, unfilteredReaderFn, batchOk,
        columnarReaderFn, outIdx, needsRealign)
    }

    // One SpecReaders per distinct spec among the manifest's files, plus the
    // CURRENT spec (what this manifest's writers produce). Keyed by stripped
    // column SET — two path orderings of the same columns read identically.
    // Built eagerly on the DRIVER (buildReaderWithPartitionValues needs the
    // session); a slice whose spec is absent — only possible for a STREAMING
    // batch that crossed a spec-evolution commit made after the stream
    // planned — fails with a restart instruction rather than misreading.
    val currentKey = manifest.partCols.toSet
    val specsByKey: Map[Set[String], SpecReaders] =
      // Uniform fast path (every never-evolved table): one spec, no second
      // walk over the entry list — specUniform already walked it once and is
      // cached on the manifest instance; catalog DML queries build many
      // factories, so the per-factory enumeration is worth skipping.
      if (manifest.specUniform) Map(currentKey -> mkSpec(manifest.partCols))
      else (manifest.entries.iterator.map { case (pp, _) =>
        GraftScanBuilder.partValues(pp).keySet }.toSet + currentKey)
        .iterator.map { key =>
          // Stable column order: the current spec keeps partCols order
          // (byte-compatible with the pre-evolution reader); older specs use
          // table-schema order.
          val stripped: Seq[String] =
            if (key == currentKey) manifest.partCols
            else manifest.schema.fields.map(_.name).filter(key.contains).toSeq
          key -> mkSpec(stripped)
        }.toMap
    val outFields = eff.fields
    new PartitionReaderFactory {
      private def specOf(slice: GraftFileSlice): SpecReaders =
        specsByKey.getOrElse(
          GraftScanBuilder.partValues(slice.partPath).keySet,
          throw new IllegalStateException(
            s"file ${slice.rel} was written under a partition spec committed " +
              "after this scan was planned (partition spec evolution mid-" +
              "stream) — restart the query to pick up the new spec"))

      private def partitionedFile(slice: GraftFileSlice, spec: SpecReaders)
          : org.apache.spark.sql.execution.datasources.PartitionedFile = {
        val values = GraftScanBuilder.partValues(slice.partPath)
        val partRow = InternalRow.fromSeq(spec.partFields.toIndexedSeq.map { f =>
          f.name match {
            case "_gen"  => genOf(slice.rel)
            case "_file" => org.apache.spark.unsafe.types.UTF8String.fromString(slice.rel)
            case _ => GraftMicroBatchStream.catalystValue(values(f.name), f.dataType)
          }
        })
        org.apache.spark.sql.execution.datasources.PartitionedFile(
          partRow,
          org.apache.spark.paths.SparkPath.fromPath(
            GraftManifest.resolveRel(new Path(tableDir), slice.rel)),
          0L, slice.len)
      }

      override def supportColumnarReads(p: InputPartition): Boolean =
        specOf(p.asInstanceOf[GraftFileSlice]).batchOk

      override def createColumnarReader(p: InputPartition)
          : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
        val slice = p.asInstanceOf[GraftFileSlice]
        val spec = specOf(slice)
        val pf = partitionedFile(slice, spec)
        // Named for `input_file_name()` until the reader closes, as Spark's
        // file readers name each file they open.
        GraftBridge.setInputFile(pf.urlEncodedPath, pf.start, pf.length)
        val raw = spec.columnarReaderFn(pf)
          .asInstanceOf[Iterator[Any]]
          .map(_.asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch])
        // Column realign without materialization: a reordered view over the
        // same vectors (the underlying reader owns and closes them).
        val it = if (!spec.needsRealign) raw else raw.map { b =>
          new org.apache.spark.sql.vectorized.ColumnarBatch(
            spec.outIdx.map(b.column), b.numRows())
        }
        new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
          override def next(): Boolean = it.hasNext
          override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = it.next()
          override def close(): Unit = GraftBridge.unsetInputFile()
        }
      }

      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val slice = p.asInstanceOf[GraftFileSlice]
        val spec = specOf(slice)
        val pf = partitionedFile(slice, spec)
        GraftBridge.setInputFile(pf.urlEncodedPath, pf.start, pf.length)
        // The reader function yields plain rows OR ColumnarBatches (vectorized
        // path) behind an InternalRow-typed iterator — the same duality
        // FileScanRDD handles; unwrap batches to their row views here.
        import scala.jdk.CollectionConverters._
        val chosenFn =
          if (slice.dvRel.nonEmpty || wantsPos) spec.unfilteredReaderFn
          else spec.readerFn
        val raw = chosenFn(pf).asInstanceOf[Iterator[Any]].flatMap {
          case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
            b.rowIterator().asScala
          case r => Iterator.single(r.asInstanceOf[InternalRow])
        }
        // Deletion-vector merge + `_pos` row ids. The ordinal counts the
        // row's ORIGINAL position in the file (pre-filter), so DVs composed
        // from a later operation still reference true file ordinals. The
        // slice is always the whole file from offset 0, so iteration order
        // IS file order.
        var ord = -1L
        val merged: Iterator[InternalRow] =
          if (slice.dvRel.isEmpty && !wantsPos) raw
          else {
            val dv = if (slice.dvRel.isEmpty) null
              else GraftDV.read(new Path(tableDir), slice.dvRel, conf.value)
            val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
            val posRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
            raw.flatMap { r =>
              ord += 1
              if (dv != null && GraftDV.contains(dv, ord)) None
              else if (!wantsPos) Some(r)
              else { posRow.update(0, ord); Some(joined(r, posRow)) }
            }
          }
        val it = if (!spec.needsRealign) merged else {
          val proj = UnsafeProjection.create(outFields.zip(spec.outIdx).map { case (f, i) =>
            BoundReference(i, f.dataType, f.nullable)
              : org.apache.spark.sql.catalyst.expressions.Expression
          }.toIndexedSeq)
          merged.map(proj)
        }
        // ROW/COLUMN policies (B233): rows are in `eff` order here — the
        // exact layout the compiled filter and output expressions are bound
        // to. Filter on RAW values (SQL WHERE semantics: non-TRUE drops),
        // then the masking projection narrows back to the user's schema.
        val policed = policy match {
          case None => it
          case Some(pc) =>
            val base = pc.filter match {
              case Some(f) => it.filter(r => f.eval(r) == true)
              case None => it
            }
            val proj = UnsafeProjection.create(pc.outputExprs)
            base.map(proj)
        }
        new PartitionReader[InternalRow] {
          override def next(): Boolean = policed.hasNext
          override def get(): InternalRow = policed.next()
          override def close(): Unit = GraftBridge.unsetInputFile()
        }
      }
    }
  }
}

/** Native V2 batch scan over a pruned entry list — the base of the table's
  * default [[GraftScan]] and, bare, the scan the row-level (copy-on-write)
  * operations plan (ReplaceData requires a true Batch). `currentEntries`
  * doubles as the GROUP list the rewrite's commit replaces, and it shrinks
  * further under RUNTIME filtering: a keyed MERGE pushes the source keys back
  * into this scan, so only files whose partition values / min-max stats
  * overlap the keys are read — or rewritten. Without this every MERGE would
  * rewrite the table. */
class GraftBatchScan(dir: Path, val manifest: GraftManifest,
    val entries: Seq[(String, String)], required: StructType,
    val dataFilters: Array[Filter] = Array.empty,
    // The OTHER two entry-pruning channels, exposed for plan-identity proofs
    // (B234): fully-handled partition filters leave NO residual and `_file`
    // filters prune on a pseudo-column — entry pruning driven by either
    // drops rows a residual re-check can't resurrect, while pruning driven
    // ONLY by dataFilters is pure IO skip (Spark re-checks them above the
    // scan). A rule that sees both lists empty may treat a pruned entry
    // list as semantically full.
    val partFilters: Array[Filter] = Array.empty,
    val fileFilters: Array[Filter] = Array.empty)
    extends Scan with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  @volatile private var kept: Seq[(String, String)] = entries
  def currentEntries: Seq[(String, String)] = kept

  override def readSchema(): StructType = required
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def description(): String =
    s"GraftBatchScan(gen=${manifest.gen}, entries=${kept.size}/${manifest.entries.size})"

  /** Runtime filtering key for the ROW-LEVEL (group-based) scans: `_file`
    * alone, and only when projected (the Iceberg design — the group-filter
    * subquery collects the DISTINCT files containing matched rows and this
    * scan keeps exactly those). `_file` ALONE matters: advertising several
    * attributes makes the group-filter rule emit a multi-column struct-IN,
    * which has no V1 `Filter` form — the runtime filter then silently never
    * reaches [[filter]] and every file gets rewritten. The default read scan
    * ([[GraftScan]]) widens this with partition columns for join DPP, where
    * Spark plans one single-attribute IN per column instead. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (required.fieldNames.contains("_file")) Array(Expressions.column("_file"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case In("_file", vs) =>
        val keep = vs.map(String.valueOf(_)).toSet
        kept = kept.filter { case (_, rel) => keep(rel) }
      case EqualTo("_file", v) =>
        kept = kept.filter { case (_, rel) => rel == String.valueOf(v) }
      case f if GraftScanBuilder.isPartitionFilter(f, manifest.partCols) =>
        // Runtime partition pruning: evaluate against the manifest's
        // directory values, exactly like the static partition filters.
        kept = kept.filter { case (pp, _) =>
          GraftScanBuilder.matches(f, GraftScanBuilder.partValues(pp),
            manifest.schema) }
      case _ => // unknown runtime filter — ignore (purely an optimization)
    }

  /** Partition-key schema for SPJ slice grouping — only when every partition
    * column survives into the scan output AND has a directory-codec type
    * ([[GraftMicroBatchStream.catalystValue]]); must agree with
    * [[GraftScan.outputPartitioning]]'s decision to report key grouping. */
  protected def spjKeySchema: Seq[(String, DataType)] = {
    val pcs = manifest.partCols
    val codecable = Set[DataType](StringType, IntegerType, LongType, ShortType)
    // specUniform: SPJ key grouping needs every slice to CARRY the key in its
    // path — files from a pre-evolution spec (B232) don't, so a mixed table
    // reports unknown partitioning (correct, just unoptimized) until
    // compaction migrates the layout.
    if (pcs.nonEmpty && manifest.specUniform &&
        pcs.forall(required.fieldNames.contains) &&
        pcs.forall(c => codecable(manifest.schema(c).dataType)))
      pcs.map(c => c -> manifest.schema(c).dataType)
    else Nil
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    lazy val fs = dir.getFileSystem(conf)
    val keySchema = spjKeySchema
    kept.map { case (pp, rel) =>
      val len = manifest.fileBytes.getOrElse(rel,
        fs.getFileStatus(GraftManifest.resolveRel(dir, rel)).getLen)
      GraftFileSlice(pp, rel, len,
        manifest.fileDVs.getOrElse(rel, ""), keySchema): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // Columnar is a SCAN-level decision (the engine forbids mixed row and
    // columnar partitions): one DV'd file drops the whole scan to rows.
    GraftParquetRead.readerFactory(dir.toString, manifest, required,
      dataFilters.toIndexedSeq,
      allowColumnar = !kept.exists { case (_, rel) => manifest.fileDVs.contains(rel) })
}

object GraftMicroBatchStream {
  import org.apache.spark.unsafe.types.UTF8String
  /** Partition-path string → catalyst value (same fragment partValues emits).
    * The writer's null marker decodes to NULL for every type — a numeric
    * decode of the marker would otherwise crash the read, and a string one
    * would resurrect the marker text as a value. */
  def catalystValue(s: String, dt: DataType): Any =
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case StringType  => UTF8String.fromString(s)
      case IntegerType => s.toInt
      case LongType    => s.toLong
      case ShortType   => s.toShort
      case other => throw new UnsupportedOperationException(
        s"graft streaming read: unsupported partition column type $other")
    }
}


/**
 * Group-based (copy-on-write) row-level operation: the engine side of SQL
 * UPDATE, MERGE INTO, and non-partition DELETE on catalog tables. Spark plans
 * the operation's OWN scan over the affected rows' files, rewrites each
 * affected file's full content with the changes applied, and hands the result
 * to this operation's write — whose commit atomically swaps exactly the
 * scanned files for the rewritten ones. Files the scan pruned (partition and
 * min/max stats pruning both apply!) are never read OR rewritten: a keyed
 * MERGE into a clustered table touches only the files whose range overlaps
 * the keys. That per-file write amplification is the copy-on-write contract —
 * the right trade for analytic tables at 100 TB.
 */
class GraftRowLevelOperation(dir: Path, manifest: GraftManifest,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  // The operation's scan — its (runtime-filtered) entry list is the group set
  // the commit replaces, read LAZILY so late pruning is honored.
  @volatile private var scanRef: Option[GraftBatchScan] = None

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"GraftRowLevelOperation($cmd)"

  /** Requiring `_file` does two jobs: (1) it routes the rewrite through
    * Spark's metadata-projection write task, whose row projection hands the
    * writer CLEAN table-schema rows (without it, the raw plan output —
    * operation column first — would reach the writer misaligned); (2) it is
    * the attribute the runtime group filter collects from matched rows, so
    * the scan can prune the rewrite set to exactly the touched files. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(dir, manifest) {
      // ReplaceData requires a true V2 Batch; prune the same two manifest
      // layers, then remember the scan — its final (runtime-filtered) file
      // list is the group set the rewrite commit swaps.
      override def build(): Scan = {
        val s = new GraftBatchScan(dir, manifest, keptEntries, required,
          partFilters = partFilters, fileFilters = fileFilters)
        scanRef = Some(s)
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftWrite(dir, manifest, info.schema(), info.queryId(),
          "replace-groups", Array.empty,
          () => scanRef.map(_.currentEntries).getOrElse(Seq.empty))
    }
}

/**
 * Delta-based (merge-on-read) row-level operation — the `dml=dv` engine for
 * SQL UPDATE / MERGE / non-partition DELETE. Spark plans the operation's scan
 * over ONLY the matching rows (the WHERE predicate pushes into the scan, with
 * manifest partition + min/max + bloom pruning all applying), tags each
 * output row with an operation and its (_file, _pos) row id, and streams the
 * deltas to this operation's write: deletes become deletion-vector positions,
 * updates are split into delete+insert, inserts append new files. NO existing
 * file is read in full or rewritten — a point delete in a 1 GB file costs a
 * few bytes of DV, which is the scale-safe shape for frequent small DML at
 * 100 TB (copy-on-write remains the read-optimized default).
 */
class GraftDeltaRowLevelOperation(dir: Path, manifest: GraftManifest,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"GraftDeltaRowLevelOperation($cmd)"

  /** Row identity = (file, ordinal within file) — exactly what a positional
    * deletion vector encodes. Both are metadata columns the scan produces. */
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  /** Updates arrive as delete+insert pairs: the deleted position joins the
    * file's DV and the new row appends — no in-place file mutation exists in
    * an immutable-file format. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(dir, manifest) {
      // A true V2 Batch (WriteDelta needs one); the builder's manifest-side
      // pruning (partition, min/max, bloom) all applies — unlike the
      // copy-on-write path, pruned files here just mean fewer rows SCANNED,
      // never a correctness-relevant group set.
      override def build(): Scan =
        new GraftBatchScan(dir, manifest, keptEntries, required,
          partFilters = partFilters, fileFilters = fileFilters)
    }

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new GraftDeltaWrite(dir, manifest, info.schema())
    }
}

class GraftDeltaWrite(dir: Path, prev: GraftManifest, writeSchema: StructType)
    extends org.apache.spark.sql.connector.write.DeltaWrite {
  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val gen = GraftManifest.currentGen(dir, conf) + 1
    new GraftDeltaBatchWrite(dir, prev, writeSchema, gen,
      new SerializableHadoopConf(conf))
  }
}

/** Per-task delta payload: inserted files + per-file deleted positions. */
case class GraftDeltaMessage(files: Seq[GraftFileRecord],
    deletes: Map[String, Array[Long]], rows: Long) extends WriterCommitMessage

class GraftDeltaBatchWrite(dir: Path, prev: GraftManifest, writeSchema: StructType,
    gen: Long, conf: SerializableHadoopConf)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  // Unique per WRITER, not per generation: a concurrent writer that planned
  // the same next gen writes elsewhere, so aborts and rebases never touch
  // another writer's files (the manifest records rel paths, and genOf reads
  // the numeric vintage prefix regardless of the uniquifier).
  private val genRel =
    s"gen-$gen-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new GraftDeltaWriterFactory(writeSchema, prev.partCols,
      new Path(dir, genRel).toString, conf, prev.bloomCols,
      GraftCheck.compiled(prev.props, writeSchema), prev.colMap)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.map(_.asInstanceOf[GraftDeltaMessage])
    val freshAll = msgs.flatMap(_.files).toSeq
    // Merge per-file deletions across tasks, then union each file's NEW
    // positions with its existing DV (immutable: a merged DV is a new file
    // under this generation; old manifests keep the old one for time travel).
    val byFile = scala.collection.mutable.Map.empty[String, ArrayBuffer[Long]]
    msgs.foreach(_.deletes.foreach { case (rel, ps) =>
      byFile.getOrElseUpdate(rel, ArrayBuffer.empty) ++= ps })
    val c = conf.value
    // Rebase-or-conflict (B177) on every claimed base; the merged DV files
    // are written per attempt, under the generation being claimed.
    var newDVAggs: Map[String, String] = null
    GraftManifest.publishNext(dir, c, base => {
      GraftCommitProtocol.requireDeltaRebasable(prev, base, byFile.keySet)
      val g = base.gen + 1
      val merged = byFile.toSeq.sortBy(_._1).map { case (rel, ps) =>
        rel -> (base.fileDVs.get(rel).map(GraftDV.read(dir, _, c))
          .getOrElse(Array.empty[Long]) ++ ps)
      }
      val newDVs = merged.zipWithIndex.map { case ((rel, pos), i) =>
        val dvRel = s"$genRel/dv-$g-$i.dv"
        GraftDV.write(dir, dvRel, pos, c)
        rel -> dvRel
      }.toMap
      // Deleted-row aggregates per touched file (GraftDVAggs): recorded over
      // the file's FULL new DV so metadata-only COUNT/SUM subtract instead of
      // refusing. Position sets are retry-stable (the conflict guard above
      // refuses any base whose DVs on these files moved), so the one-job-per-
      // file compute runs once even across CAS retries. Best-effort: a
      // failure here degrades the file to scan-fallback, never blocks DML.
      // OPT-IN (`dvaggs=true` table property): the compute is a synchronous
      // extra Spark job that re-reads every touched file AFTER the DML job —
      // a per-commit tax every delta DML would otherwise pay whether or not
      // the table ever serves a metadata-only aggregate. Tables that want
      // count/sum-under-DV to stay metadata-only declare it; everything else
      // commits with zero extra jobs and falls back to a scan on those aggs.
      if (newDVAggs == null) {
        newDVAggs =
          if (!base.props.get("dvaggs").contains("true")) Map.empty
          else org.apache.spark.sql.SparkSession.getActiveSession
            .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
            .map { spark =>
              try GraftDVAggs.computeAll(spark, dir, base,
                merged.map { case (rel, pos) => rel -> pos.distinct })
              catch { case _: Exception => Map.empty[String, String] }
            }.getOrElse(Map.empty)
      }
      // Touched files' PRIOR aggregates are dropped even when the recompute
      // failed or was skipped: a file whose DV grew but whose aggregates
      // still describe the old, smaller DV would make metadata COUNT/SUM
      // subtract too little — silently wrong. Absence instead refuses the
      // metadata path for that file (scan fallback, always correct).
      Some(base.withFileMeta(freshAll).copy(gen = g,
        entries = base.entries ++ freshAll.map(f => (f.part, f.rel)),
        fileDVs = base.fileDVs ++ newDVs,
        fileDVAggs = (base.fileDVAggs -- byFile.keys) ++ newDVAggs))
    })
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val genDir = new Path(dir, genRel)
    genDir.getFileSystem(conf.value).delete(genDir, true)
  }
}

class GraftDeltaWriterFactory(writeSchema: StructType, partCols: Seq[String],
    genDir: String, conf: SerializableHadoopConf, bloomCols: Seq[String],
    checks: Seq[GraftCheckPredicate] = Seq.empty,
    colMap: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaRowWriter(writeSchema, partCols, genDir, conf,
      partitionId, taskId, bloomCols, checks, colMap)
}

/** Task side of the merge-on-read write: inserts reuse the ordinary parquet
  * row writer (one file per partition value); deletes buffer (file → ordinal)
  * pairs — a few longs per deleted row, never row data. */
class GraftDeltaRowWriter(writeSchema: StructType, partCols: Seq[String],
    genDir: String, conf: SerializableHadoopConf, partitionId: Int, taskId: Long,
    bloomCols: Seq[String], checks: Seq[GraftCheckPredicate] = Seq.empty,
    colMap: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  // LAZY: a pure DELETE's write schema is EMPTY (no row data travels with a
  // delete) — constructing the parquet writer would fail resolving partition
  // columns, and no file should be opened anyway.
  private var innerOpt: Option[GraftRowWriter] = None
  private def inner: GraftRowWriter = innerOpt.getOrElse {
    val w = new GraftRowWriter(writeSchema, partCols, genDir, conf,
      partitionId, taskId, bloomCols, checks, colMap)
    innerOpt = Some(w); w
  }
  private val deletes =
    scala.collection.mutable.Map.empty[String, ArrayBuffer[Long]]

  /** `id` rows follow rowId() order: (_file STRING, _pos BIGINT). */
  override def delete(meta: InternalRow, id: InternalRow): Unit =
    deletes.getOrElseUpdate(id.getUTF8String(0).toString,
      ArrayBuffer.empty) += id.getLong(1)

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = inner.write(row)

  override def commit(): WriterCommitMessage = {
    val (files, rows) = innerOpt match {
      case Some(w) =>
        val GraftFilesMessage(fs, n) = w.commit(): @unchecked; (fs, n)
      case None => (Seq.empty[GraftFileRecord], 0L)
    }
    GraftDeltaMessage(files, deletes.map { case (k, v) => k -> v.toArray }.toMap, rows)
  }
  override def abort(): Unit = innerOpt.foreach(_.abort())
  override def close(): Unit = innerOpt.foreach(_.close())
}

class GraftWriteBuilder(dir: Path, manifest: GraftManifest, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsDynamicOverwrite with SupportsOverwrite {
  // Append unless a truncate/overwrite verb retargets the commit.
  private var mode: String = "append"
  private var staticFilters: Array[Filter] = Array.empty

  // Policy gate (B233): replacing writes destroy rows a non-exempt session
  // cannot even see — only plain appends stay open under an active policy.
  private def policyGate(verb: String): Unit =
    require(!GraftPolicies.active(manifest, SparkSession.active),
      s"$verb on a table with row/column policies requires a policy-exempt " +
        "role (set spark.graft.role to an exempt role)")

  override def truncate(): WriteBuilder = {
    policyGate("INSERT OVERWRITE (truncate)"); mode = "truncate"; this }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    policyGate("dynamic partition overwrite"); mode = "dynamic"; this }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    policyGate("overwrite")
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) mode = "truncate"
    else { mode = "static"; staticFilters = filters }
    this
  }

  override def build(): Write = {
    // Idempotent batch writes (B180, the Delta txnAppId/txnVersion knobs):
    // a (appId, version) pair rides the commit's txn ledger — replaying the
    // same batch job (orchestrator retry, speculative re-run) publishes
    // nothing the second time, the same exactly-once contract streaming
    // epochs already have.
    val txnKey = (Option(info.options.get("txnAppId")),
        Option(info.options.get("txnVersion"))) match {
      case (Some(app), Some(ver)) => Some(s"batch:$app:$ver")
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "txnAppId and txnVersion must be set together for idempotent writes")
    }
    // `branch=<name>` (B195, the WAP write): the commit targets the branch's
    // shadow lineage — planning bases on the BRANCH head (schema, props,
    // checks, entries all the branch's own), and main's snapshot is
    // untouched until fast_forward publishes the audited head.
    val branch = Option(info.options.get("branch"))
    val effManifest = branch match {
      case Some(b) =>
        val conf = SparkSession.active.sessionState.newHadoopConf()
        GraftCatalogOps.resolveBranch(dir, b, conf).getOrElse(
          throw new IllegalArgumentException(
            s"no branch '$b' — create it first (CALL <cat>.system.branch)"))
      case None => manifest
    }
    // `replaceFiles=<rel\n rel…>` (targeted OPTIMIZE, B161): commit as a
    // surgical group replace — the named live files swap for the fresh ones
    // in ONE generation, with the row-level-operation conflict rules (files
    // must still be live with unchanged DVs). Newline-separated: partition
    // escaping (%-encodes control chars) guarantees no rel path contains one.
    val replaceSet = Option(info.options.get("replaceFiles"))
      .map(_.split('\n').filter(_.nonEmpty).toSet)
    val (effMode, effGroups) = replaceSet match {
      case Some(rels) =>
        require(mode == "append",
          s"replaceFiles composes with append writes only, got $mode")
        val entries = effManifest.entries.filter(e => rels(e._2))
        require(entries.size == rels.size, "replaceFiles names file(s) not " +
          s"live in generation ${effManifest.gen}: " +
          (rels -- entries.map(_._2).toSet).mkString(", "))
        ("replace-groups", () => entries)
      case None => (mode, () => Seq.empty[(String, String)])
    }
    // `layout=managed` (maintenance rewrites, B175): the CALLER's partitioning
    // and order are authoritative — the write must not impose its own
    // distribution, or the hash exchange would undo the Morton layout the
    // rewrite exists to produce. Data correctness is untouched: writers key
    // files by partition VALUE, so a partition spread over several tasks
    // simply commits several (tile) files.
    new GraftWrite(dir, effManifest, info.schema(), info.queryId(), effMode,
      staticFilters, replaceGroups = effGroups, txnKey = txnKey,
      layoutManaged = Option(info.options.get("layout")).contains("managed"),
      branch = branch,
      // `txnFiles` (B200): newline-separated per-source-file ledger markers.
      txnFiles = Option(info.options.get("txnFiles"))
        .map(_.split('\n').filter(_.nonEmpty).toSeq).getOrElse(Seq.empty))
  }
}

/**
 * Native V2 write: Spark clusters the incoming data by the partition columns
 * (RequiresDistributionAndOrdering), each task writes immutable parquet files
 * under the next generation dir through Spark's own ParquetWriteSupport (the
 * exact codec `df.write.parquet` uses), and ONLY the driver's commit publishes
 * a manifest referencing exactly the files the committed task attempts
 * reported — a speculative or failed attempt's files exist on disk but are
 * never visible, which is what lets the format skip rename-based task commits
 * entirely (object-store friendly: one atomic publish per job, zero per-task
 * renames).
 */
class GraftWrite(dir: Path, manifest: GraftManifest, writeSchema: StructType,
    queryId: String, mode: String, staticFilters: Array[Filter],
    replaceGroups: () => Seq[(String, String)] = () => Seq.empty,
    txnKey: Option[String] = None,
    layoutManaged: Boolean = false,
    branch: Option[String] = None,
    txnFiles: Seq[String] = Seq.empty)
    extends Write with RequiresDistributionAndOrdering {

  // Write clustering (liquid-clustering-lite): a `cluster=<col>` table
  // property makes every commit range-distribute + sort on that column, so
  // each data file covers a tight, near-disjoint value range and the
  // manifest's min/max stats actually bite on key-range predicates. With
  // partition columns the clustering degrades to within-partition ORDERING
  // (hash distribution on the partition key stays authoritative).
  private def clusterCol: Option[String] =
    manifest.props.get("cluster").filter(manifest.schema.fieldNames.contains)

  override def requiredDistribution: Distribution =
    if (layoutManaged) Distributions.unspecified()
    else if (manifest.partCols.nonEmpty)
      Distributions.clustered(
        manifest.partCols
          .map(GraftTransforms.toV2Transform(_): Expression).toArray)
    else clusterCol match {
      case Some(c) => Distributions.ordered(Array(
        Expressions.sort(Expressions.identity(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)))
      case None => Distributions.unspecified()
    }
  override def requiredOrdering: Array[SortOrder] =
    if (layoutManaged) Array.empty
    else clusterCol match {
      case Some(c) => Array(Expressions.sort(Expressions.identity(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case None => Array.empty
    }
  override def requiredNumPartitions: Int =
    if (layoutManaged) 0
    else manifest.props.get("cluster.parts").map(_.toInt).getOrElse(0)

  override def toBatch: BatchWrite = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    // Branch writes (B195) claim generations in the branch's own lineage dir;
    // data files land under the TABLE dir either way (entries table-relative,
    // so fast_forward is metadata-only).
    val metaDir = branch.map(b => GraftCatalogOps.branchDir(dir, b)).getOrElse(dir)
    val gen = GraftManifest.currentGen(metaDir, conf) + 1
    new GraftBatchWrite(dir, manifest, writeSchema, mode, staticFilters, gen,
      new SerializableHadoopConf(conf), replaceGroups, txnKey,
      metaDirOpt = branch.map(b => GraftCatalogOps.branchDir(dir, b)),
      txnFiles = txnFiles)
  }

  /** Streaming append: each micro-batch commits one manifest generation, keyed
    * (queryId, epochId) in the txn ledger so a post-restart replay of an
    * already-visible epoch publishes nothing — exactly-once table contents on
    * top of Spark's at-least-once epoch redelivery. */
  override def toStreaming: StreamingWrite = {
    require(mode == "append",
      s"graft streaming sink supports append output mode, got $mode")
    require(branch.isEmpty,
      "streaming writes target the main lineage — branches are batch WAP scratch")
    new GraftStreamingWrite(dir, manifest, writeSchema, queryId,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()))
  }
}

class GraftStreamingWrite(dir: Path, prev: GraftManifest, writeSchema: StructType,
    queryId: String, conf: SerializableHadoopConf) extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(writeSchema, prev.partCols, dir.toString, queryId,
      conf, prev.bloomCols, GraftCheck.compiled(prev.props, writeSchema), prev.colMap)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val c = conf.value
    val fresh = messages.flatMap { case GraftFilesMessage(fs, _) => fs }.toSeq
    // An epoch commit is a pure append + txn mark, so it rebases onto ANY
    // concurrent commit (B177); the exactly-once dedup check re-evaluates
    // against each base it lands on — a replayed epoch is already visible.
    GraftManifest.publishNext(dir, c, cur =>
      if (GraftCommitProtocol.epochReplayed(cur.txns, queryId, epochId)) None
      else Some(cur.withFileMeta(fresh).copy(gen = cur.gen + 1,
        entries = cur.entries ++ fresh.map(f => (f.part, f.rel)),
        txns = GraftCommitProtocol.epochMarked(cur.txns, queryId, epochId))))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val ep = new Path(dir, s"ep-$queryId-$epochId")
    ep.getFileSystem(conf.value).delete(ep, true)
  }
}

/** One committed data file: partition path, rel path, stats string ("" when
  * none), byte size (what feeds the table's optimizer statistics). */
case class GraftFileRecord(part: String, rel: String, stats: String, bytes: Long,
    bloom: String = "", rows: Long = -1L, ndv: String = "")

case class GraftFilesMessage(files: Seq[GraftFileRecord], rows: Long)
  extends WriterCommitMessage

/**
 * Per-file column statistics: the manifest-side data-skipping core (the
 * Delta/Iceberg "file stats" idea). Writers collect min/max/nullCount per
 * stats-eligible data column while streaming rows out; the scan evaluates
 * pushed data filters against each file's stats and drops files a predicate
 * PROVABLY excludes — before any file IO. At 100 TB this is the difference
 * between opening every file in a partition and opening the 2 whose key range
 * overlaps the predicate.
 *
 * Wire format (one string per file, tab-free/newline-free by URL-encoding):
 * `col:nullCount:enc(min):enc(max)` joined by `;`; a 2-field `col:nullCount`
 * arity means every value was null. Strings compare with Java String order on
 * BOTH the collect and prune side — internally consistent, which is all
 * pruning soundness needs. Only Int/Long/Short/Float/Double/String columns
 * carry stats; anything else simply never prunes.
 */
object GraftFileStats {
  import java.net.{URLDecoder, URLEncoder}
  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = URLDecoder.decode(s, "UTF-8")

  def eligible(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | DoubleType | FloatType | StringType => true
    case _ => false
  }

  /** col -> (nullCount, min, max); None min/max = all-null column. */
  def parse(stats: String): Map[String, (Long, Option[String], Option[String])] =
    stats.split(";").filter(_.nonEmpty).flatMap { part =>
      part.split(":", -1) match {
        case Array(n, nulls)             => Some(dec(n) -> (nulls.toLong, None, None))
        case Array(n, nulls, mn, mx)     => Some(dec(n) -> (nulls.toLong, Some(dec(mn)), Some(dec(mx))))
        case Array(n, nulls, mn, mx, _)  => Some(dec(n) -> (nulls.toLong, Some(dec(mn)), Some(dec(mx))))
        case _                           => None
      }
    }.toMap

  /** col -> exact per-file SUM of an INTEGRAL column's non-null values
    * (B202: the 5th stats field; Long arithmetic wraps like Spark's non-ANSI
    * BIGINT sum — wrapping addition is associative, so per-file sums compose
    * order-independently). Columns without a recorded sum (all-null shape,
    * float columns, pre-B202 vintages) are simply absent. */
  def parseSums(stats: String): Map[String, Long] =
    stats.split(";").filter(_.nonEmpty).flatMap { part =>
      part.split(":", -1) match {
        case Array(n, _, _, _, sum) if sum.nonEmpty => Some(dec(n) -> sum.toLong)
        case _ => None
      }
    }.toMap

  def encodeCol(name: String, nulls: Long, mn: Option[String], mx: Option[String],
                sum: Option[Long] = None): String =
    (mn, sum) match {
      case (Some(m), Some(s)) => s"${enc(name)}:$nulls:${enc(m)}:${enc(mx.get)}:$s"
      case (Some(m), None)    => s"${enc(name)}:$nulls:${enc(m)}:${enc(mx.get)}"
      case (None, _)          => s"${enc(name)}:$nulls"
    }

  private def ascii(s: String): Boolean = s.forall(_ < 0x80)

  /** Stats-string comparison under the column's type order; None = incomparable.
    * Strings compare ONLY when both sides are pure ASCII: above 0x7F Java's
    * UTF-16 order and Spark's UTF-8 binary order diverge (surrogate range vs
    * U+E000..U+FFFF), and range pruning must follow the order Spark evaluates
    * predicates in — declining is sound, mis-ordering is not. */
  private def cmp(dt: DataType, a: String, b: Any): Option[Int] =
    if (b == null) None
    else dt match {
      case StringType =>
        val bs = b.toString
        if (ascii(a) && ascii(bs)) Some(a.compareTo(bs)) else None
      case IntegerType | LongType | ShortType | DoubleType | FloatType =>
        try Some(new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b.toString)))
        catch { case _: NumberFormatException => None }
      case _ => None
    }

  /** true ⇒ the file may contain matching rows (keep); false ⇒ provably not. */
  def mayMatch(statsStr: Option[String], filters: Array[Filter],
               dataSchema: StructType): Boolean = {
    if (statsStr.isEmpty || filters.isEmpty) return true
    val st = parse(statsStr.get)
    def dt(a: String): Option[DataType] =
      dataSchema.fields.find(_.name == a).map(_.dataType)
    // min/max bounds for column a, None when untracked.
    def bounds(a: String): Option[(Long, Option[String], Option[String])] = st.get(a)
    def outside(a: String, v: Any): Boolean = bounds(a) match {
      case Some((_, None, None)) => v != null // all-null column never equals a value
      case Some((_, Some(mn), Some(mx))) =>
        dt(a).exists(t =>
          cmp(t, mn, v).exists(_ > 0) || cmp(t, mx, v).exists(_ < 0))
      case _ => false
    }
    def provablyEmpty(f: Filter): Boolean = f match {
      case EqualTo(a, v)                    => outside(a, v)
      case EqualNullSafe(a, v) if v != null => outside(a, v)
      case GreaterThan(a, v) => bounds(a) match {
        case Some((_, _, Some(mx))) => dt(a).exists(t => cmp(t, mx, v).exists(_ <= 0))
        case Some((_, None, None))  => true // all null
        case _ => false
      }
      case GreaterThanOrEqual(a, v) => bounds(a) match {
        case Some((_, _, Some(mx))) => dt(a).exists(t => cmp(t, mx, v).exists(_ < 0))
        case Some((_, None, None))  => true
        case _ => false
      }
      case LessThan(a, v) => bounds(a) match {
        case Some((_, Some(mn), _)) => dt(a).exists(t => cmp(t, mn, v).exists(_ >= 0))
        case Some((_, None, None))  => true
        case _ => false
      }
      case LessThanOrEqual(a, v) => bounds(a) match {
        case Some((_, Some(mn), _)) => dt(a).exists(t => cmp(t, mn, v).exists(_ > 0))
        case Some((_, None, None))  => true
        case _ => false
      }
      case In(a, vs)    => vs.nonEmpty && vs.forall(v => v == null || outside(a, v))
      case IsNull(a)    => bounds(a).exists(_._1 == 0L)
      case IsNotNull(a) => bounds(a).exists(b => b._2.isEmpty && b._3.isEmpty)
      // A string starting with prefix p sorts within [p, p∞): the file range
      // excludes every such string iff max < p or min's p-length prefix > p.
      case StringStartsWith(a, p) if p != null => bounds(a) match {
        case Some((_, Some(mn), Some(mx))) if ascii(mn) && ascii(mx) && ascii(p) =>
          mx.compareTo(p) < 0 || mn.take(p.length).compareTo(p) > 0
        case Some((_, None, None)) => true
        case _ => false
      }
      case And(l, r)    => provablyEmpty(l) || provablyEmpty(r)
      case Or(l, r)     => provablyEmpty(l) && provablyEmpty(r)
      case _            => false
    }
    !filters.exists(provablyEmpty)
  }
}

/**
 * Per-file Bloom filters — the point-lookup complement to min/max stats: on a
 * column the table is NOT clustered by, every file's [min,max] overlaps every
 * equality probe, but a 2 KiB Bloom answers "provably absent" for most files.
 * 2048 bits / 4 md5-derived probes ≈ 0.1% false-positive at 100 distinct
 * values per file; a false positive only costs reading one extra file —
 * skipping stays sound. Enabled by the `bloom=<col>` table property; the
 * filter is built DURING the write and rides the manifest like min/max stats.
 */
object GraftBloom {
  val Bits = 2048
  private val Probes = 4

  def eligible(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | StringType => true
    case _ => false
  }

  /** Deterministic probe positions for a value's canonical string form. */
  def positions(v: String): Array[Int] = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes(StandardCharsets.UTF_8))
    Array.tabulate(Probes) { k =>
      val hi = d(2 * k) & 0xff; val lo = d(2 * k + 1) & 0xff
      ((hi << 8) | lo) % Bits
    }
  }

  def encode(bits: java.util.BitSet): String =
    java.util.Base64.getEncoder.encodeToString(bits.toByteArray)

  /** true ⇒ the file may contain `v`; false ⇒ provably not. */
  def mightContain(encoded: String, v: String): Boolean = {
    val bits = java.util.BitSet.valueOf(java.util.Base64.getDecoder.decode(encoded))
    positions(v).forall(bits.get)
  }

  /** Prune decision for the pushed data filters against one file's bloom. */
  def mayMatch(encoded: Option[String], bloomCol: String,
               filters: Array[Filter]): Boolean =
    encoded.isEmpty || !filters.exists {
      case EqualTo(a, v) if a == bloomCol && v != null =>
        !mightContain(encoded.get, String.valueOf(v))
      case In(a, vs) if a == bloomCol && vs.nonEmpty =>
        vs.forall(v => v == null || !mightContain(encoded.get, String.valueOf(v)))
      case _ => false
    }

  /** Multi-column payload (B211): every payload is keyed by its owning
    * column — `col:b64[;col:b64…]` — ':' and ';' are outside the base64
    * alphabet, so the marker is unambiguous. NEW writes always carry the
    * column name, even for a single declared bloom column: a payload's
    * owner is a property of the FILE (what was hashed into it at write
    * time), not of whatever the table's `bloom` property says later, so the
    * name must travel with the bits or an ALTER that reorders the property
    * would silently re-attribute old filters and falsely prune. */
  def encodeCols(cols: Seq[(String, java.util.BitSet)]): String =
    cols.map { case (c, b) => s"$c:${encode(b)}" }.mkString(";")

  /** The named column's filter within a payload; None = untracked (never
    * prune). Legacy raw payloads (pre-column-keyed manifests) belong to the
    * FIRST declared bloom column — sound because [[GraftCatalog.alterTable]]
    * refuses any `bloom` property change that would move the first column
    * while raw payloads still exist in the manifest. */
  def bloomFor(encoded: String, col: String,
               firstCol: Option[String]): Option[String] =
    if (!encoded.contains(':'))
      if (firstCol.contains(col)) Some(encoded) else None
    else encoded.split(';').collectFirst {
      case e if e.startsWith(col + ":") => e.substring(col.length + 1)
    }

  /** Prune decision across every declared bloom column. */
  def mayMatchCols(encoded: Option[String], bloomCols: Seq[String],
                   filters: Array[Filter]): Boolean =
    encoded.isEmpty || bloomCols.forall(bc =>
      mayMatch(bloomFor(encoded.get, bc, bloomCols.headOption), bc, filters))
}

/**
 * Positional deletion vectors — merge-on-read row-level DML (the Iceberg v2
 * position-delete / Delta deletion-vector idea): instead of rewriting a whole
 * data file to drop one row (copy-on-write amplification: a point delete in a
 * 1 GB file costs a 1 GB write), a DELETE records the deleted rows' ordinal
 * POSITIONS within their file in a tiny sidecar, and every reader merges the
 * sidecar at scan time. OPTIMIZE later materializes the deletes away.
 *
 * On-disk format: magic byte + varint-delta encoding of the sorted position
 * list (~1-2 bytes per position for clustered deletes — the bitmap posture
 * without a bitmap library). A DV is immutable once written: a later delete
 * on the same file writes a NEW merged DV under the committing generation and
 * repoints the manifest — old manifests keep referencing the old DV, so time
 * travel sees exactly the rows that were live at that generation.
 */
/**
 * Per-file, per-column distinct-count sketches: the manifest-side NDV source
 * for cost-based optimization (the Iceberg puffin/theta-sketch idea, sized
 * for a text manifest). A plain 256-register HyperLogLog: fixed 256 bytes per
 * column per file, mergeable across files by register-wise max — so a SCAN's
 * column NDV is the union of its kept files' sketches, computed driver-side
 * from metadata with zero data IO. ~6.5% standard error (1.04/√256), which is
 * exactly the accuracy class join-reorder cost models need (they compare
 * cardinalities across orders of magnitude, not percent). Values hash through
 * two-seed Murmur3 into a synthetic 64-bit key; null values are not counted
 * (NDV is distinct NON-NULL values, matching Spark's ColumnStat contract).
 */
object GraftNdv {
  val Registers = 256 // p = 8
  private val Alpha = 0.7213 / (1 + 1.079 / Registers) // standard HLL alpha_m

  private def hash64(v: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(v, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(v, 0x85ebca6b)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  def update(regs: Array[Byte], v: String): Unit = {
    val h = hash64(v)
    val idx = (h >>> 56).toInt
    val w = h << 8
    val rank = (if (w == 0) 57 else java.lang.Long.numberOfLeadingZeros(w) + 1).toByte
    if (rank > regs(idx)) regs(idx) = rank
  }

  /** Register-wise max — the union sketch (exactly how per-file sketches roll
    * up to a scan-level NDV without rescanning data). */
  def merge(into: Array[Byte], from: Array[Byte]): Unit = {
    var i = 0
    while (i < Registers) { if (from(i) > into(i)) into(i) = from(i); i += 1 }
  }

  /** Standard HLL estimate with the small-range linear-counting correction. */
  def estimate(regs: Array[Byte]): Long = {
    var sum = 0.0; var zeros = 0; var i = 0
    while (i < Registers) {
      sum += math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val raw = Alpha * Registers * Registers / sum
    val corrected =
      if (raw <= 2.5 * Registers && zeros > 0)
        Registers * math.log(Registers.toDouble / zeros)
      else raw
    math.max(1L, math.round(corrected))
  }

  def encode(regs: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(regs)
  def decode(s: String): Array[Byte] = java.util.Base64.getDecoder.decode(s)

  /** `col:base64;...` per-file wire form (URL-encoded names, like file stats). */
  def encodeCols(cols: Seq[(String, Array[Byte])]): String =
    cols.map { case (n, r) =>
      s"${java.net.URLEncoder.encode(n, "UTF-8")}:${encode(r)}" }.mkString(";")
  def parseCols(s: String): Map[String, Array[Byte]] =
    s.split(";").filter(_.nonEmpty).flatMap { part =>
      part.split(":", 2) match {
        case Array(n, b) if b.nonEmpty =>
          Some(java.net.URLDecoder.decode(n, "UTF-8") -> decode(b))
        case _ => None
      }
    }.toMap

  /** Decoded sketches for a whole manifest, cached per manifest CONTENT: the
    * optimizer may request scan statistics several times per query, and on a
    * 100k-file manifest re-decoding every sketch each time is O(files×cols)
    * base64 work on the DRIVER. The key carries the fileNdvs hashCode besides
    * (dir, gen) because (dir, gen) alone is NOT unique — DROP TABLE +
    * recreate restarts generation numbers at the same path (the repeated
    * catalog-query pattern), and a stale hit would miss the new files. The
    * hash walk is O(files) driver work per lookup, ~1000× cheaper than the
    * decode it saves; 8 entries bound the footprint. Cached register arrays
    * are never mutated — [[merge]] always folds INTO a caller-owned fresh
    * array. */
  private val parseCache =
    new java.util.LinkedHashMap[(String, Long, Int), Map[String, Map[String, Array[Byte]]]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Int), Map[String, Map[String, Array[Byte]]]]): Boolean =
        size() > 8
    }
  def parsedSketches(dir: String, m: GraftManifest): Map[String, Map[String, Array[Byte]]] =
    parseCache.synchronized {
      val key = (dir, m.gen, m.fileNdvs.hashCode)
      val hit = parseCache.get(key)
      if (hit != null) hit
      else {
        val parsed = m.fileNdvs.map { case (rel, s) => rel -> parseCols(s) }
        parseCache.put(key, parsed)
        parsed
      }
    }
}

/**
 * Reader leases: the VACUUM-vs-open-reader guard (closes DESIGN §8's one
 * unsafe interleaving). Each streaming query renews a lease file under the
 * table's `_leases/` dir — named by a digest of its checkpoint location,
 * containing the oldest generation that checkpoint still needs (its committed
 * offset). VACUUM clamps its reclaim horizon to the minimum gen across
 * ACTIVE leases (mtime within the TTL), so it never deletes a manifest an
 * in-flight paced drain will come back for. Leases expire by TTL rather than
 * explicit release: a crashed driver can't release, and an expired-but-live
 * reader still fails LOUDLY (the existing manifest-existence require) rather
 * than reading wrong data — the lease narrows the window, the require keeps
 * the failure honest. Driver-side metadata IO only; lease IO is best-effort
 * and never fails the stream (a lost renewal degrades to today's posture,
 * never to silent corruption).
 */
object GraftLease {
  /** 6h: generous vs any realistic trigger interval, small enough that a dead
    * checkpoint stops blocking reclaim the same day. */
  val DefaultTtlMs: Long = 6L * 3600 * 1000

  private def leaseDir(dir: Path) = new Path(dir, "_leases")

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Lease state is encoded in the FILENAME (`<digest>.<gen>.lease`), never
    * parsed from contents — a concurrent reader can race a create, but a
    * name is atomic where partial file contents are not. Renewing at the
    * SAME position (an idle ProcessingTime stream) is a pure mtime touch;
    * advancing creates the new gen's file first and reaps older ones after,
    * so a racing reader always sees at least one file and MAX-per-digest
    * resolves duplicates to the newest position. */
  def renew(dir: Path, checkpoint: String, gen: Long, conf: Configuration): Unit =
    try {
      val fs = GraftLocalFileSystem.forPath(dir, conf)
      val dg = digest(checkpoint)
      val f = new Path(leaseDir(dir), s"$dg.$gen.lease")
      if (fs.exists(f)) {
        val now = System.currentTimeMillis()
        fs.setTimes(f, now, now)
      } else {
        fs.mkdirs(leaseDir(dir))
        val out = fs.create(f, true)
        try out.write(s"$checkpoint\n".getBytes("UTF-8")) finally out.close()
        val st = fs.globStatus(new Path(leaseDir(dir), s"$dg.*.lease"))
        if (st != null) st.foreach { s0 =>
          if (parseGen(s0.getPath.getName).exists(_ != gen))
            try fs.delete(s0.getPath, false) catch { case _: Exception => () }
        }
      }
    } catch { case _: Exception => () } // best-effort: see scaladoc

  private def parseGen(name: String): Option[Long] = {
    // <40-hex-digest>.<gen>.lease
    val parts = name.stripSuffix(".lease").split("\\.", 2)
    if (parts.length == 2) parts(1).toLongOption else None
  }

  /** Oldest generation any active (non-expired) lease still needs; None when
    * no active lease exists. Per checkpoint the NEWEST (max-gen) active file
    * wins — older twins only exist inside a renew's create→reap window.
    * Expired lease files are reaped in passing; an unparseable name reads as
    * the maximally safe -1. */
  def activeMinGen(dir: Path, conf: Configuration, ttlMs: Long,
                   nowMs: Long): Option[Long] = {
    val fs = dir.getFileSystem(conf)
    val ld = leaseDir(dir)
    if (!fs.exists(ld)) return None
    val live = fs.listStatus(ld).toSeq
      .filter(_.getPath.getName.endsWith(".lease"))
      .flatMap { st =>
        if (nowMs - st.getModificationTime > ttlMs) {
          try fs.delete(st.getPath, false) catch { case _: Exception => () }
          None
        } else {
          val name = st.getPath.getName
          Some(name.takeWhile(_ != '.') -> parseGen(name).getOrElse(-1L))
        }
      }
    if (live.isEmpty) None
    else Some(live.groupBy(_._1).values.map(_.map(_._2).max).min)
  }
}

/**
 * CHECK constraints (B171, the Delta `CHECK` / SQL-standard table-constraint
 * semantics): the `check=<boolean sql expr>` table property — and any number
 * of NAMED constraints `check.<name>=<expr>` (the `ALTER TABLE … ADD
 * CONSTRAINT <name> CHECK (…)` surface; add/drop via SET/UNSET TBLPROPERTIES)
 * — are parsed and resolved ONCE on the driver against the write schema
 * (session-free `CatalystSqlParser` + builtin function registry, so the
 * compiled expressions serialize to executors), then every row of every write
 * path — batch append/overwrite, streaming epochs, delta (DV)
 * inserts/updates, and copy-on-write rewrites — must satisfy ALL of them. A
 * violating row fails its task naming the violated constraint, the job
 * aborts, and the commit NEVER publishes: constraint enforcement inherits the
 * manifest's all-or-nothing atomicity, so a 10-row batch with one bad row
 * lands zero rows. SQL tri-state semantics: NULL passes (unknown is not a
 * violation — the standard's CHECK rule), only literal FALSE rejects.
 */
case class GraftCheckPredicate(name: String, sql: String,
    expr: org.apache.spark.sql.catalyst.expressions.Expression) {
  def validate(row: InternalRow, schema: StructType): Unit = {
    val v = expr.eval(row)
    if (v != null && !v.asInstanceOf[Boolean]) {
      val rendered = schema.fields.zipWithIndex.map { case (f, i) =>
        val value = if (row.isNullAt(i)) "NULL" else row.get(i, f.dataType)
        s"${f.name}=$value"
      }.mkString(", ")
      throw new IllegalArgumentException(
        s"CHECK constraint $name ($sql) violated by row [$rendered] — " +
          "the whole write is rejected, nothing was committed")
    }
  }
}

/**
 * Column DEFAULT values (B199, the Delta existence-default design): a
 * `default.<col>=<folded literal sql>` table property declares the value
 * rows READ when their file predates the column — `ALTER TABLE ADD COLUMN
 * ... DEFAULT x` is ONE metadata commit and ZERO rewrites at any table
 * size, yet existing rows answer `x` instead of NULL. The mechanism is
 * Spark's own: the manifest schema re-attaches the declaration as
 * `EXISTS_DEFAULT`/`CURRENT_DEFAULT` field metadata at load, and the
 * vectorized parquet reader fills columns MISSING from a file's footer with
 * the existence default — per file, so later files that DO carry the column
 * keep their stored values including explicit NULLs, exactly the Delta
 * semantics. The same metadata makes the analyzer fill omitted columns and
 * the `DEFAULT` keyword on INSERT (write-side current default). Defaults
 * are folded to a CONSTANT at DDL time (the existence value must never
 * drift with the reading session).
 */
object GraftDefaults {
  val Prefix = "default."

  /** `schema` with each `default.<col>` prop attached as default metadata. */
  def attach(schema: StructType, props: Map[String, String]): StructType =
    if (!props.keys.exists(_.startsWith(Prefix))) schema
    else StructType(schema.fields.map { f =>
      props.get(Prefix + f.name) match {
        case Some(sql) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
            .putString("EXISTS_DEFAULT", sql).putString("CURRENT_DEFAULT", sql)
            .build())
        case None => f
      }
    })

  /** `schema` with default metadata removed (the stored-DDL twin). */
  def strip(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains("EXISTS_DEFAULT") && !f.metadata.contains("CURRENT_DEFAULT")) f
      else f.copy(metadata = {
        val b = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        b.remove("EXISTS_DEFAULT"); b.remove("CURRENT_DEFAULT"); b.build()
      })
    })

  /** Fold a declared default to a typed constant literal's SQL (refuses
    * non-constants; casts to the column type under the pinned UTC session). */
  def fold(sql: String, dt: DataType): String = {
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
    require(parsed.foldable, s"DEFAULT must be a foldable constant, got '$sql'")
    val v = org.apache.spark.sql.catalyst.expressions.Cast(
      parsed, dt, Some("UTC"), org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI).eval(null)
    val lit = org.apache.spark.sql.catalyst.expressions.Literal(v, dt)
    require(!lit.sql.exists(ch => ch == '\n' || ch == '\t' || ch == '\r'),
      s"DEFAULT literal contains a control character: '$sql'")
    lit.sql
  }
}

/**
 * ROW-LEVEL SECURITY + COLUMN MASKING (B233 — the Unity row-filter /
 * Snowflake masking-policy design, enforced IN the scan, not in a view):
 *
 *   - `graft.rowFilter`  = boolean SQL over the table schema: rows where it
 *     is not TRUE are invisible to every read path (batch, streaming, CDF).
 *   - `graft.mask.<col>` = SQL expr (same dataType as the column): what
 *     non-exempt readers see instead of the raw value. May reference other
 *     columns (`CASE WHEN tier = 'internal' THEN email ELSE '***' END`).
 *   - `graft.policy.exemptRoles` = csv; a session whose `spark.graft.role`
 *     conf is in the list reads RAW (the policy-admin posture). No role set
 *     = not exempt — the secure default.
 *
 * Enforcement lives in [[GraftParquetRead.readerFactory]] — the single choke
 * point every read path (default V2 scan, row-level scans, streaming source,
 * change feed) flows through — as a post-deletion-vector row predicate plus
 * a masking projection, so there is no unpoliced way to a row. Soundness
 * interactions, each refusing rather than leaking:
 *   - metadata-only aggregates refuse while a policy is active (a manifest
 *     COUNT would count invisible rows; MIN/MAX would leak raw extremes);
 *   - filters on MASKED columns are excluded from parquet row-group
 *     skipping, file min/max stats, and bloom pruning (pruning on RAW values
 *     under a predicate the engine re-checks on MASKED output would return
 *     wrong ROWS, e.g. `WHERE ssn = '***'` must match everything) — Spark
 *     re-applies them above the scan on policy output;
 *   - DML (DELETE/UPDATE/MERGE), TRUNCATE, and overwrites refuse for
 *     non-exempt sessions (a copy-on-write rewrite through a masked read
 *     would PERSIST masked values); plain appends stay open;
 *   - OPTIMIZE/ZORDER refuse for non-exempt sessions for the same reason;
 *   - partition (path) columns cannot be masked — their raw values are baked
 *     into directory names the manifest exposes;
 *   - masking forces the scan row-based (the columnar fast path would ship
 *     raw vectors).
 * Known caveat (documented, matching the lakehouse state of the art): the
 * `$files` metadata twin exposes per-file min/max stats to anyone who can
 * read the table — treat stats-bearing twins as admin surfaces when masking.
 * Policies are snapshot-scoped like every other table property: time travel
 * reads a generation under the policies THAT manifest declares.
 */
object GraftPolicies {
  val FilterProp = "graft.rowFilter"
  val MaskPrefix = "graft.mask."
  val ExemptProp = "graft.policy.exemptRoles"
  val RoleConf = "spark.graft.role"

  def declared(props: Map[String, String]): Boolean =
    props.contains(FilterProp) || props.keys.exists(_.startsWith(MaskPrefix))

  private def exempt(props: Map[String, String], session: SparkSession): Boolean = {
    val role = session.conf.getOption(RoleConf).getOrElse("")
    role.nonEmpty && props.get(ExemptProp).exists(
      _.split(',').map(_.trim).contains(role))
  }

  /** Policies bind this session: declared and the session's role not exempt. */
  def active(manifest: GraftManifest, session: SparkSession): Boolean =
    declared(manifest.props) && !exempt(manifest.props, session)

  /** The EFFECTIVE read regime this session sees on a table: "none" when no
    * policy binds it (nothing declared, or the session's role exempt), else
    * the canonical sorted policy text. The B198 mview machinery stamps this
    * at seed time (`mview.policy`) and refuses incremental folds under a
    * DIFFERENT regime: a policy added/changed/dropped after the seed — or a
    * refresher whose exemption differs from the seeder's — would silently
    * mix visibility regimes inside one view (observed: a filter flipped from
    * k<>0 to k<>1 left the view carrying k=1 rows no current reader can see
    * next to a k=0 group folded only partially). */
  def regime(props: Map[String, String], session: SparkSession): String =
    if (!declared(props) || exempt(props, session)) "none"
    else (props.get(FilterProp).map(FilterProp + "=" + _).toSeq ++
      props.collect { case (k, v) if k.startsWith(MaskPrefix) => s"$k=$v" }.toSeq)
      .sorted.mkString(";")

  /** Columns whose values this session must never see raw (empty when no
    * policy binds — exempt sessions prune and read raw). */
  def maskedCols(manifest: GraftManifest, session: SparkSession): Set[String] =
    if (!active(manifest, session)) Set.empty
    else manifest.props.keys.filter(_.startsWith(MaskPrefix))
      .map(_.stripPrefix(MaskPrefix)).toSet

  /** Definition-time validation (CREATE / ALTER): expressions resolve against
    * the schema, masks preserve the column's type, path columns refuse. */
  def validate(props: Map[String, String], schema: StructType,
               pathCols: Set[String]): Unit = {
    props.get(FilterProp).foreach(sql => GraftCheck.resolve(sql, schema))
    props.foreach {
      case (k, sql) if k.startsWith(MaskPrefix) =>
        val col = k.stripPrefix(MaskPrefix)
        val f = schema.fields.find(_.name == col).getOrElse(
          throw new IllegalArgumentException(
            s"mask for unknown column $col — schema has " +
              s"[${schema.fieldNames.mkString(", ")}]"))
        require(!pathCols.contains(col),
          s"cannot mask partition column $col — its raw values are baked " +
            "into directory names")
        val e = GraftCheck.resolve(sql, schema, bind = false, requireBoolean = false)
        require(e.dataType == f.dataType,
          s"mask for $col must preserve its type ${f.dataType.sql}, " +
            s"got ${e.dataType.sql}")
      case _ =>
    }
  }

  /** Everything the reader needs, compiled on the driver: the read schema
    * widened with the columns the row filter (and masks) reference, the
    * filter bound to it, and the final per-output-column expressions (mask
    * or passthrough) bound to it. */
  final case class Compiled(
      internalSchema: StructType,
      filter: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      outputExprs: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression])
    extends Serializable

  def compile(manifest: GraftManifest, required: StructType,
              session: SparkSession): Option[Compiled] = {
    if (!active(manifest, session)) return None
    val props = manifest.props
    val schema = manifest.schema
    val metaNames = Set("_gen", "_file", "_pos")
    // Refs the policy expressions need beyond the projection: resolve
    // unbound against the FULL schema first to discover them.
    val filterSql = props.get(FilterProp)
    val maskSql: Map[String, String] = props.collect {
      case (k, v) if k.startsWith(MaskPrefix) => k.stripPrefix(MaskPrefix) -> v }
    val neededRefs = (filterSql.toSeq ++
      maskSql.filter { case (c, _) => required.fieldNames.contains(c) }.values)
      .flatMap(sql => GraftCheck.resolve(sql, schema, bind = false,
        requireBoolean = false).references.map(_.name))
    val extra = neededRefs.distinct
      .filterNot(required.fieldNames.contains).map(schema.apply)
    val internal = StructType(required.fields ++ extra)
    // Bind against the widened schema. Metadata columns keep passthrough
    // (they are engine provenance, not data; a mask naming one fails resolve).
    val bindable = StructType(internal.fields.map(f =>
      if (metaNames(f.name)) f else schema(f.name)))
    val filter = filterSql.map(GraftCheck.resolve(_, bindable))
    val outputExprs = required.fields.zipWithIndex.map { case (f, i) =>
      maskSql.get(f.name) match {
        case Some(sql) if !metaNames(f.name) =>
          GraftCheck.resolve(sql, bindable, bind = true, requireBoolean = false)
        case _ =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            i, f.dataType, f.nullable)
      }
    }.toIndexedSeq
    Some(Compiled(internal, filter, outputExprs))
  }
}

object GraftCheck {
  val Prop = "check"
  private val NamedPrefix = "check."

  /** The (name, sql) constraint set a property map declares: the legacy
    * unnamed `check` plus every named `check.<name>`, name-ordered so the
    * evaluation (and first-violation error) order is deterministic. */
  def declared(props: Map[String, String]): Seq[(String, String)] =
    (props.get(Prop).map(Prop -> _).toSeq ++
      props.collect { case (k, v) if k.startsWith(NamedPrefix) &&
        k.length > NamedPrefix.length => k.stripPrefix(NamedPrefix) -> v })
      .sortBy(_._1)

  /** Compile the table's CHECK properties against a write schema —
    * driver-side; the result ships to tasks. Interpreted eval on purpose:
    * `Predicate` codegen erases the NULL/FALSE distinction tri-state CHECK
    * needs, and writes are IO-bound anyway. */
  def compiled(props: Map[String, String], schema: StructType): Seq[GraftCheckPredicate] =
    declared(props).map { case (name, sql) =>
      GraftCheckPredicate(name, sql, resolve(sql, schema)) } ++
      GraftGenerated.checks(props, schema) // B189: generated-column invariants

  /** Parse + resolve + bind a boolean SQL expression against a schema, with
    * no SparkSession in sight (write factories construct off the live session
    * thread). Unknown columns and non-boolean expressions fail LOUDLY — at
    * CREATE TABLE time via the same call. `bind=false` keeps the resolved
    * AttributeReferences unbound — the form V1-filter translation wants
    * (replaceWhere's manifest pruning). */
  def resolve(sql: String, schema: StructType,
      bind: Boolean = true, requireBoolean: Boolean = true)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences}
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedAttribute, UnresolvedFunction}
    val attrs = schema.fields.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)()).toIndexedSeq
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
    val resolved = parsed.transformUp {
      case ua: UnresolvedAttribute =>
        // Case-INSENSITIVE resolution, like the session analyzer's default
        // (spark.sql.caseSensitive=false): an exact match wins; otherwise a
        // UNIQUE case-insensitive match; two columns differing only by case
        // are ambiguous and refuse, mirroring the analyzer's error.
        val name = ua.nameParts.mkString(".")
        attrs.find(_.name == name).getOrElse {
          val ci = attrs.filter(_.name.equalsIgnoreCase(name))
          if (ci.length > 1) throw new IllegalArgumentException(
            s"CHECK constraint ($sql) reference '${ua.name}' is ambiguous — " +
              s"matches [${ci.map(_.name).mkString(", ")}]")
          ci.headOption.getOrElse(throw new IllegalArgumentException(
            s"CHECK constraint ($sql) references unknown column '${ua.name}' — " +
              s"schema has [${schema.fieldNames.mkString(", ")}]"))
        }
      case uf: UnresolvedFunction =>
        FunctionRegistry.builtin.lookupFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(uf.nameParts.last),
          uf.arguments)
    }
    // Type coercion is an analyzer concern (`id >= 0` is bigint-vs-int until
    // the implicit cast lands): run the engine's own ANSI coercion rules to a
    // fixed point over a single-Filter wrapper plan — the same casts a
    // session query would get, without needing a session.
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
    // Non-boolean expressions (generated-column generation expressions) ride
    // a Project wrapper — a Filter would imply a boolean condition.
    var plan: LogicalPlan =
      if (requireBoolean) Filter(resolved, LocalRelation(attrs))
      else Project(Seq(Alias(resolved, "e")()), LocalRelation(attrs))
    var rounds = 0
    var changed = true
    while (changed && rounds < 10) {
      val next = org.apache.spark.sql.catalyst.analysis.AnsiTypeCoercion
        .typeCoercionRules.foldLeft(plan)((p, r) => r(p))
      changed = !next.fastEquals(plan)
      plan = next
      rounds += 1
    }
    // Timezone-bearing casts the coercion inserted (timestamp→date under
    // month()/to_date()-style expressions) stay UNRESOLVED until a zone is
    // filled in — the same analyzer step a session query gets. Without this,
    // any calendar expression is undeclarable as a CHECK or generated column.
    plan = org.apache.spark.sql.catalyst.analysis.ResolveTimeZone(plan)
    val coerced = plan match {
      case f: Filter => f.condition
      case p: Project => p.projectList.head.asInstanceOf[Alias].child
      case other => throw new IllegalStateException(s"unexpected wrapper $other")
    }
    require(coerced.resolved,
      s"CHECK constraint ($sql) did not fully resolve: $coerced")
    require(!requireBoolean ||
      coerced.dataType == org.apache.spark.sql.types.BooleanType,
      s"CHECK constraint ($sql) must be BOOLEAN, got ${coerced.dataType.sql}")
    // A nondeterministic constraint (rand(), current_timestamp, …) is
    // semantically meaningless for a row invariant AND would crash the
    // uninitialized interpreted eval — refuse at definition time.
    require(coerced.deterministic,
      s"CHECK constraint ($sql) must be deterministic")
    if (!bind) coerced
    else BindReferences.bindReference(coerced,
      org.apache.spark.sql.catalyst.expressions.AttributeSeq(attrs))
  }
}

/**
 * GENERATED COLUMNS (B189, the Delta generated-column design): a
 * `generate.<col> = <sql expr>` table property declares `col`'s value as a
 * pure function of other columns. Two halves:
 *  - the write-path INVARIANT: every write path (batch, streaming epoch,
 *    delta DV insert/update, CoW rewrite) enforces `col <=> (expr)` per row
 *    through the same task-side machinery as CHECK constraints — a provided
 *    value that disagrees with the expression rejects the WHOLE commit
 *    (manifest atomicity), so the column can never silently drift from its
 *    definition and partition layouts keyed on it stay trustworthy;
 *  - the write-side AUTO-COMPUTE ([[GraftCatalogOps.insertGenerated]]): a
 *    frame lacking the column gets it computed from the expression before
 *    the append — the Delta UX where callers never materialize the derived
 *    key themselves.
 * Declarations validate at CREATE/ALTER time: unknown columns, an
 * unresolvable expression, a type mismatch with the declared column, and
 * generation expressions referencing other GENERATED columns all refuse
 * before any data lands. Partitioning by a generated column composes with
 * everything keyed on partition values (pruning, SPJ, metadata twins) — at
 * 100 TB this is "partition by month(ts) without trusting writers to derive
 * month(ts) correctly".
 */
object GraftGenerated {
  val Prefix = "generate."
  /** `generate.tz.<col>` — the session timezone the declaration was PINNED
    * to at CREATE/ALTER. A calendar rule (`month(ts)` casts timestamp→date
    * under a zone) is a DIFFERENT function per zone, so without a pin each
    * writer would enforce — and each reader would assume — its own session's
    * variant of the invariant. Stamped automatically for zone-dependent
    * rules; write paths refuse sessions whose zone differs; the mview
    * generated-key rewrite serves only when the query session matches. */
  val TzPrefix = "generate.tz."

  def declared(props: Map[String, String]): Seq[(String, String)] =
    props.collect { case (k, v) if k.startsWith(Prefix) &&
      !k.startsWith(TzPrefix) &&
      k.length > Prefix.length => k.stripPrefix(Prefix) -> v }
      .toSeq.sortBy(_._1)

  /** Does the (resolved, coerced, zone-resolved) expression's VALUE depend
    * on the session timezone? Casts are gated on [[Cast.needsTimeZone]] —
    * coercion inserts zone-irrelevant numeric casts everywhere and those
    * must not poison `id % 12`-style rules. */
  def zoneDependent(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists {
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        org.apache.spark.sql.catalyst.expressions.Cast
          .needsTimeZone(c.child.dataType, c.dataType)
      case _: org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression => true
      case _ => false
    }

  /** Zone-ID equality ("UTC" == "Etc/UTC" == "+00:00"), not string equality. */
  def sameZone(a: String, b: String): Boolean =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(a).normalized ==
      org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(b).normalized

  /** Pin the CURRENT session's timezone onto every zone-dependent
    * declaration that lacks a stamp. Called where declarations are BORN
    * (CREATE, ALTER SET of a `generate.<col>` key) — never on unrelated
    * commits, which could bless historical writes made under unknown zones.
    * An existing stamp (user-supplied at CREATE, or from the declaring
    * ALTER) is kept verbatim. */
  def stampZones(props: Map[String, String], schema: StructType,
      only: Option[String] = None): Map[String, String] = {
    val zone = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    declared(props).filter(d => only.forall(_ == d._1)).foldLeft(props) {
      case (p, (c, sql)) =>
        if (p.contains(TzPrefix + c)) p
        else {
          val resolved =
            GraftCheck.resolve(sql, schema, bind = false, requireBoolean = false)
          if (zoneDependent(resolved)) p + ((TzPrefix + c) -> zone) else p
        }
    }
  }

  /** CREATE/ALTER-time validation — fail the DDL, never the first write. */
  def validate(props: Map[String, String], schema: StructType): Unit = {
    val gen = declared(props)
    val genCols = gen.map(_._1).toSet
    // User-supplied zone pins (CREATE accepts them — "a user-supplied pin
    // wins") must hold the fail-at-DDL posture too: an unparseable zone id
    // would otherwise surface only inside sameZone at the FIRST WRITE, and a
    // pin naming no declared rule would sit dead in the props forever.
    props.foreach { case (k, z) if k.startsWith(TzPrefix) =>
      val c = k.stripPrefix(TzPrefix)
      require(genCols.contains(c),
        s"timezone pin $k names no declared ${Prefix}$c rule")
      try org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(z)
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"timezone pin $k is not a valid zone id: '$z'", e)
      }
    case _ => ()
    }
    gen.foreach { case (c, e) =>
      require(schema.fieldNames.contains(c),
        s"generated column $c missing from schema " +
          s"[${schema.fieldNames.mkString(", ")}]")
      val resolved = GraftCheck.resolve(e, schema, requireBoolean = false)
      val declaredType = schema(schema.fieldIndex(c)).dataType
      require(resolved.dataType == declaredType,
        s"generation expression for $c has type ${resolved.dataType.sql}, " +
          s"column is declared ${declaredType.sql} — cast the expression")
      val refs = resolved.collect {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.name
      }.toSet
      require(!refs.exists(genCols.contains),
        s"generation expression for $c references a generated column " +
          s"(${refs.intersect(genCols).mkString(", ")}) — " +
          "generated columns derive from plain columns only")
    }
  }

  /** The per-row write invariants, as CHECK predicates: `col <=> (expr)`.
    * EqualNullSafe is never NULL, so a disagreeing row always rejects. */
  def checks(props: Map[String, String],
      schema: StructType): Seq[GraftCheckPredicate] =
    declared(props).filter { case (c, _) => schema.fieldNames.contains(c) }
      .map { case (c, e) =>
        // Zone gate: a pinned calendar rule is one function, the pinned
        // zone's — a writer session under a different zone would enforce
        // (and auto-compute) a DIFFERENT function, silently skewing the
        // very values the pin exists to make trustworthy. Refuse loudly.
        props.get(TzPrefix + c).foreach { z =>
          val sz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
          require(sameZone(z, sz),
            s"generated column $c's calendar rule is pinned to timezone $z " +
              s"(stamped when declared); this session writes under $sz and " +
              "would enforce a different function — set " +
              s"spark.sql.session.timeZone to $z to write this table")
        }
        val sql = s"$c <=> ($e)"
        GraftCheckPredicate(s"generated($c)", sql, GraftCheck.resolve(sql, schema))
      }

  /** Compute any generated columns the frame lacks (provided ones are left
    * for the write invariant to judge). */
  def fill(df: org.apache.spark.sql.DataFrame,
      props: Map[String, String]): org.apache.spark.sql.DataFrame =
    declared(props).foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, org.apache.spark.sql.functions.expr(e))
    }
}

object GraftDV {
  private val Magic = 0x47.toByte // 'G'

  def encode(positions: Array[Long]): Array[Byte] = {
    val sorted = positions.distinct.sorted
    val out = new java.io.ByteArrayOutputStream(sorted.length * 2 + 1)
    out.write(Magic)
    var prev = -1L
    sorted.foreach { p =>
      require(p >= 0, s"negative row position $p")
      var delta = p - prev // >= 1 between distinct sorted positions
      while ((delta & ~0x7fL) != 0) { out.write(((delta & 0x7f) | 0x80).toInt); delta >>>= 7 }
      out.write(delta.toInt)
      prev = p
    }
    out.toByteArray
  }

  def decode(bytes: Array[Byte]): Array[Long] = {
    require(bytes.nonEmpty && bytes(0) == Magic, "not a graft deletion vector")
    val out = ArrayBuffer.empty[Long]
    var i = 1
    var prev = -1L
    while (i < bytes.length) {
      var delta = 0L; var shift = 0
      var b = bytes(i); i += 1
      while ((b & 0x80) != 0) {
        delta |= (b & 0x7fL) << shift; shift += 7
        b = bytes(i); i += 1
      }
      delta |= (b & 0x7fL) << shift
      prev += delta
      out += prev
    }
    out.toArray
  }

  def write(dir: Path, rel: String, positions: Array[Long], conf: Configuration): Unit = {
    val p = new Path(dir, rel)
    val fs = GraftLocalFileSystem.forPath(p, conf)
    val out = fs.create(p, true)
    try out.write(encode(positions)) finally out.close()
  }

  /** Sorted position array (binary-searchable) for one DV file. */
  def read(dir: Path, rel: String, conf: Configuration): Array[Long] = {
    val p = GraftManifest.resolveRel(dir, rel)
    val in = p.getFileSystem(conf).open(p)
    try decode(in.readAllBytes()) finally in.close()
  }

  def contains(sorted: Array[Long], pos: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, pos) >= 0
}

/**
 * Per-file DELETED-ROW aggregates (the B202 extension): when a delta-DML
 * commit grows a file's deletion vector, the commit also records what the
 * dead rows SUM to, so metadata-only COUNT/COUNT(col)/SUM keep answering by
 * SUBTRACTION instead of falling back to a scan the moment one DV lands
 * (the common steady state of a MERGE-heavy table). MIN/MAX stay refused
 * under DVs — deleting an extreme row invalidates a bound, and bounds can't
 * be subtracted.
 *
 * String shape (rides the manifest entry line, field 8):
 *   `<deletedRows>;<encCol>:<deletedNonNull>[:<deletedSum>];...`
 * column names are the PHYSICAL parquet names URL-encoded exactly like
 * [[GraftFileStats]]; `deletedSum` is present only for integral columns
 * (wrapping Long addition — the same non-ANSI BIGINT semantics the per-file
 * sums compose under). The aggregates always describe the file's FULL
 * current DV, recomputed at commit time from the union position set (never
 * incrementally merged), so a pre-feature DV vintage upgrades to exact
 * aggregates on its next delete.
 *
 * Scale: the compute is ONE executor job over only the touched files, packed
 * into at most `defaultParallelism` tasks; each file is decoded whole and
 * filtered to its DV positions, so the cost is one read of every touched
 * file — the order of the DML job that wrote the DV.
 */
object GraftDVAggs {
  import java.net.{URLDecoder, URLEncoder}

  /** (deletedRows, physCol -> (deletedNonNull, Option(deletedSum))). */
  def parse(s: String): (Long, Map[String, (Long, Option[Long])]) = {
    val parts = s.split(";")
    val cols = parts.drop(1).filter(_.nonEmpty).flatMap { p =>
      p.split(":", -1) match {
        case Array(c, nn)      => Some(URLDecoder.decode(c, "UTF-8") -> (nn.toLong, None))
        case Array(c, nn, sum) => Some(URLDecoder.decode(c, "UTF-8") ->
          (nn.toLong, if (sum.isEmpty) None else Some(sum.toLong)))
        case _ => None
      }
    }.toMap
    (parts(0).toLong, cols)
  }

  def encode(deleted: Long, cols: Seq[(String, Long, Option[Long])]): String =
    (deleted.toString +: cols.map { case (c, nn, sum) =>
      val base = s"${URLEncoder.encode(c, "UTF-8")}:$nn"
      sum.map(v => s"$base:$v").getOrElse(base)
    }).mkString(";")

  /**
   * Aggregate the DELETED rows of every touched file of `m`: row count,
   * per-column deleted non-null counts, per-integral-column deleted sums.
   * `byFile` maps each rel to its FULL DV position set.
   *
   * Each file is read once through the catalog's parquet decode under `m`
   * (column mapping, partition specs) with its true `_pos` ordinals and no
   * DV, keeps exactly its DV positions, and is aggregated inside its task;
   * columns are keyed by their physical names, as the file stats are. No
   * column is synthesized by name, but that decode fills `_gen`/`_file`/`_pos`
   * as metadata: a table with a data column of one of those names records
   * nothing for its touched files (absence is the scan fallback). A column a
   * file lacks (ADD COLUMN drift) reads as null there, which is harmless —
   * the metadata path only consults a column's DV aggregates AFTER the
   * file's own stats prove the column exists in that file.
   */
  def computeAll(spark: org.apache.spark.sql.SparkSession, tableDir: Path,
                 m: GraftManifest, byFile: Seq[(String, Array[Long])]): Map[String, String] = {
    val zeros = byFile.collect { case (rel, ps) if ps.isEmpty => rel -> encode(0L, Nil) }.toMap
    val cols = m.dataSchema.fields
    if (cols.exists(f => Set("_gen", "_file", "_pos")(f.name))) return zeros
    val conf = spark.sessionState.newHadoopConf()
    val partOf = m.entries.map(_.swap).toMap
    val files = byFile.collect { case (rel, ps) if ps.nonEmpty =>
      GraftChangeSlice.fileSlice(tableDir, m, partOf(rel), rel, conf).copy(dvRel = "") -> ps.sorted
    }
    if (files.isEmpty) return zeros
    val names = cols.map(f => m.physicalName(f.name))
    // 0 = not summed; 1/2/3 = int/long/short, summed as wrapping longs.
    val kind = cols.map(_.dataType match {
      case IntegerType => 1
      case LongType => 2
      case ShortType => 3
      case _ => 0
    })
    val posIdx = cols.length
    val reader = GraftParquetRead.readerFactory(tableDir.toString, m,
      StructType(cols :+ org.apache.spark.sql.types.StructField("_pos", LongType, false)),
      allowColumnar = false)
    val tasks = math.min(files.size, spark.sparkContext.defaultParallelism)
    val computed = spark.sparkContext.parallelize(files, tasks).mapPartitions(_.flatMap {
      case (file, keep) =>
        val it = reader.createReader(file)
        var n = 0L
        val nonNull = new Array[Long](cols.length)
        val sums = new Array[Long](cols.length)
        try while (it.next()) {
          val row = it.get()
          if (GraftDV.contains(keep, row.getLong(posIdx))) {
            n += 1
            var i = 0
            while (i < cols.length) {
              if (!row.isNullAt(i)) {
                nonNull(i) += 1
                sums(i) += (kind(i) match {
                  case 1 => row.getInt(i).toLong
                  case 2 => row.getLong(i)
                  case 3 => row.getShort(i).toLong
                  case _ => 0L
                })
              }
              i += 1
            }
          }
        } finally it.close()
        // A file whose positions matched no rows is OMITTED (inconsistent
        // input): absence degrades it to scan-fallback, never a wrong subtraction.
        if (n == 0) None
        else Some(file.rel -> encode(n, cols.indices.map(i =>
          (names(i), nonNull(i), if (kind(i) == 0) None else Some(sums(i))))))
    }).collect()
    zeros ++ computed
  }
}

/** Streams per-file min/max/nullCount while rows are written (no second pass). */
class GraftStatsCollector(dataSchema: StructType) {
  private val cols = dataSchema.fields.zipWithIndex
    .filter { case (f, _) => GraftFileStats.eligible(f.dataType) }
  private val nulls = Array.fill[Long](cols.length)(0L)
  private val nonNulls = Array.fill[Long](cols.length)(0L)
  // Bounds tracked in the column's NATIVE type (stringified once per FILE at
  // encode, not once per row): the old per-row path materialized every value
  // as a String and ran min/max through freshly-allocated BigDecimal pairs —
  // ~1 s of task CPU per 150k-row DML commit, paid by every catalog write
  // task (guide §1.2 per-task work). Numeric order on the primitive equals
  // BigDecimal order on its decimal string (toString round-trips), and
  // string columns keep Java order — the chosen min/max ELEMENT, and
  // therefore the encoded stats, are bit-identical.
  private val minL = Array.fill[Long](cols.length)(Long.MaxValue)
  private val maxL = Array.fill[Long](cols.length)(Long.MinValue)
  private val minD = Array.fill[Double](cols.length)(Double.MaxValue)
  private val maxD = Array.fill[Double](cols.length)(Double.MinValue)
  private val minF = Array.fill[Float](cols.length)(Float.MaxValue)
  private val maxF = Array.fill[Float](cols.length)(Float.MinValue)
  private val minS = Array.fill[String](cols.length)(null)
  private val maxS = Array.fill[String](cols.length)(null)
  private val hasBounds = Array.fill[Boolean](cols.length)(false)
  // Per-file SUM of integral columns (B202, feeds metadata-only SUM):
  // wrapping Long adds — associative, so order never matters.
  private val sums = Array.fill[Long](cols.length)(0L)
  // Per-row dispatch on a primitive tag, not a DataType pattern match.
  private val tag: Array[Int] = cols.map(_._1.dataType match {
    case StringType  => 0
    case IntegerType => 1
    case LongType    => 2
    case ShortType   => 3
    case DoubleType  => 4
    case FloatType   => 5
    case _           => 9
  })
  private def isIntegral(k: Int): Boolean = tag(k) >= 1 && tag(k) <= 3
  // Per-column NDV sketches (CBO feed) + the file's row count.
  private val hlls = Array.fill(cols.length)(new Array[Byte](GraftNdv.Registers))
  private var rows = 0L
  // NaN/Infinity sit OUTSIDE any finite [min,max] under Spark's ordering
  // (NaN > everything, ±Inf beyond every finite bound), so a file that mixes
  // finite and non-finite values must publish NO bounds at all — finite
  // bounds would let `x > 10` prune a file holding +Infinity.
  private val sawNonFinite = Array.fill[Boolean](cols.length)(false)

  def update(row: InternalRow): Unit = {
    rows += 1
    var k = 0
    while (k < cols.length) {
      val i = cols(k)._2
      if (row.isNullAt(i)) nulls(k) += 1
      else {
        nonNulls(k) += 1
        // NaN/Infinity have no BigDecimal form and no place in a range — they
        // are counted as non-null but excluded from min/max and NDV (the
        // column is then published WITHOUT bounds, see encode).
        tag(k) match {
          case 0 =>
            val v = row.getUTF8String(i).toString
            if (minS(k) == null || v.compareTo(minS(k)) < 0) minS(k) = v
            if (maxS(k) == null || v.compareTo(maxS(k)) > 0) maxS(k) = v
            hasBounds(k) = true
            GraftNdv.update(hlls(k), v)
          case 1 | 2 | 3 =>
            val l = tag(k) match {
              case 1 => row.getInt(i).toLong
              case 2 => row.getLong(i)
              case _ => row.getShort(i).toLong
            }
            sums(k) += l
            if (l < minL(k) || !hasBounds(k)) minL(k) = l
            if (l > maxL(k) || !hasBounds(k)) maxL(k) = l
            hasBounds(k) = true
            // NDV sketch hashes the SAME decimal string the old path built
            // per row — estimates (q_catalog_ndv) stay bit-identical.
            GraftNdv.update(hlls(k), l.toString)
          case 4 =>
            val d = row.getDouble(i)
            if (java.lang.Double.isFinite(d)) {
              if (d < minD(k) || !hasBounds(k)) minD(k) = d
              if (d > maxD(k) || !hasBounds(k)) maxD(k) = d
              hasBounds(k) = true
              GraftNdv.update(hlls(k), d.toString)
            } else sawNonFinite(k) = true
          case 5 =>
            val fl = row.getFloat(i)
            if (java.lang.Float.isFinite(fl)) {
              if (fl < minF(k) || !hasBounds(k)) minF(k) = fl
              if (fl > maxF(k) || !hasBounds(k)) maxF(k) = fl
              hasBounds(k) = true
              GraftNdv.update(hlls(k), fl.toString)
            } else sawNonFinite(k) = true
          case _ => ()
        }
      }
      k += 1
    }
  }

  /** The bound's wire string — the exact form the old per-row path stored
    * (Long/Double/Float toString; Int/Short stringify identically via Long). */
  private def boundStr(k: Int, isMin: Boolean): String = tag(k) match {
    case 0 => if (isMin) minS(k) else maxS(k)
    case 1 | 2 | 3 => (if (isMin) minL(k) else maxL(k)).toString
    case 4 => (if (isMin) minD(k) else maxD(k)).toString
    case _ => (if (isMin) minF(k) else maxF(k)).toString
  }

  def encode: String = cols.indices.flatMap { k =>
    // Three shapes: finite-only bounds -> 4-field; provably all-null ->
    // 2-field; ANY non-finite value seen (even alongside finite ones) ->
    // OMIT the column, which the prune side treats as "never prune". Mixed
    // finite+NaN/Inf files must not publish their finite sub-range: the
    // non-finite values live outside it and a range predicate would mis-prune.
    if (sawNonFinite(k)) None
    else if (hasBounds(k))
      Some(GraftFileStats.encodeCol(cols(k)._1.name, nulls(k),
        Option(boundStr(k, isMin = true)), Option(boundStr(k, isMin = false)),
        if (isIntegral(k)) Some(sums(k)) else None))
    else if (nonNulls(k) == 0L)
      Some(GraftFileStats.encodeCol(cols(k)._1.name, nulls(k), None, None))
    else None
  }.mkString(";")

  /** Rows this collector saw — the file's exact row count. */
  def rowCount: Long = rows

  /** Per-column NDV sketches for columns that saw a non-null value. */
  def encodeNdv: String = GraftNdv.encodeCols(
    cols.indices.collect { case k if nonNulls(k) > 0L =>
      cols(k)._1.name -> hlls(k) })
}

/** Driver-side channel reporting whether the LAST catalog batch commit on
  * this thread actually published a generation, or was silently absorbed as
  * an idempotent/COPY-INTO full replay (`abort` + no publication). V2
  * `BatchWrite.commit` runs on the driver in the same call stack as the
  * `df.writeTo(...).append()` that triggered it, so a ThreadLocal is exact —
  * callers that need the outcome ([[GraftCatalogOps.copyInto]]) reset before
  * the write and read after, instead of trusting planning-time state that a
  * concurrent committer may have invalidated. */
object GraftCommitOutcome {
  private val last = new ThreadLocal[Option[Boolean]] {
    override def initialValue: Option[Boolean] = None
  }
  private[sources] def record(published: Boolean): Unit = last.set(Some(published))
  def reset(): Unit = last.set(None)
  /** Some(true)=published, Some(false)=absorbed as replay, None=no commit ran. */
  def lastPublished: Option[Boolean] = last.get()
}

class GraftBatchWrite(dir: Path, prev: GraftManifest, writeSchema: StructType,
    mode: String, staticFilters: Array[Filter], gen: Long,
    conf: SerializableHadoopConf,
    replaceGroups: () => Seq[(String, String)] = () => Seq.empty,
    txnKey: Option[String] = None,
    metaDirOpt: Option[Path] = None,
    txnFiles: Seq[String] = Seq.empty) extends BatchWrite {
  // Branch writes (B195): manifests claim in the branch lineage dir; data
  // files stay under the table dir so entries are table-relative and
  // fast_forward is metadata-only.
  private val metaDir = metaDirOpt.getOrElse(dir)
  // Unique per WRITER, not per generation: a concurrent writer that planned
  // the same next gen writes elsewhere, so aborts and rebases never touch
  // another writer's files (the manifest records rel paths, and genOf reads
  // the numeric vintage prefix regardless of the uniquifier). Branch data
  // dirs carry NO numeric vintage (gen-wap-…): their gen numbers are
  // branch-local, and aliasing an old MAIN generation would mislead genOf
  // (_gen column, CDF seed versioning) after fast_forward — vintage-unknown
  // is the streaming-epoch posture, already first-class everywhere.
  private val genRel =
    if (metaDirOpt.isEmpty) s"gen-$gen-${java.util.UUID.randomUUID().toString.take(8)}"
    else s"gen-wap-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(writeSchema, prev.partCols,
      new Path(dir, genRel).toString, conf, prev.bloomCols,
      GraftCheck.compiled(prev.props, writeSchema), prev.colMap)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val freshAll = messages.flatMap { case GraftFilesMessage(fs, _) => fs }.toSeq
    val fresh = freshAll.map(f => (f.part, f.rel))
    val replaced = if (mode == "replace-groups") replaceGroups().toSet
                   else Set.empty[(String, String)]
    // Optimistic concurrency (B177): every attempt REBASES onto the claimed
    // base (GraftCommitProtocol decides rebasable vs conflict per write
    // mode). The data files were already written under this writer's own
    // gen-dir — rebasing re-points METADATA only, nothing re-executes.
    val published = GraftManifest.publishNext(metaDir, conf.value, base => {
      // Idempotent-write dedup: a replayed (txnAppId, txnVersion) batch is
      // already visible. Per-file load markers (B200, COPY INTO): a commit
      // may carry a set of `copy:<path>` ledger keys — a FULL replay (every
      // marker present) publishes nothing; a PARTIAL overlap means a
      // concurrent COPY INTO ingested some of these source files since
      // planning — refuse rather than double-load.
      val dup = txnFiles.filter(base.txns.contains)
      if (txnKey.exists(base.txns.contains) ||
          (txnFiles.nonEmpty && dup.size == txnFiles.size)) None
      else {
        require(dup.isEmpty,
          s"COPY INTO conflict: ${dup.size} of ${txnFiles.size} source files " +
            "were loaded by a concurrent copy — re-run to load the remainder")
        Some(base.withFileMeta(freshAll).copy(gen = base.gen + 1,
          entries = GraftCommitProtocol.rebasedEntries(
            mode, prev, base, fresh, staticFilters, replaced),
          txns = base.txns ++ txnKey ++ txnFiles))
      }
    })
    // A replay published nothing: drop the orphaned gen dir.
    if (published.isEmpty) abort(messages)
    GraftCommitOutcome.record(published.isDefined)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // Nothing was published; drop the orphaned generation dir.
    val genDir = new Path(dir, genRel)
    genDir.getFileSystem(conf.value).delete(genDir, true)
  }
}

/** Ships only serializable state (paths as strings, schema, conf wrapper) —
  * the streaming engine serializes the factory into every task. */
class GraftStreamingWriterFactory(writeSchema: StructType, partCols: Seq[String],
    tableDir: String, queryId: String, conf: SerializableHadoopConf,
    bloomCols: Seq[String] = Seq.empty, checks: Seq[GraftCheckPredicate] = Seq.empty,
    colMap: Map[String, String] = Map.empty)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftRowWriter(writeSchema, partCols,
      s"$tableDir/ep-$queryId-$epochId", conf, partitionId, taskId, bloomCols,
      checks, colMap)
}

class GraftWriterFactory(writeSchema: StructType, partCols: Seq[String],
    genDir: String, conf: SerializableHadoopConf,
    bloomCols: Seq[String] = Seq.empty,
    checks: Seq[GraftCheckPredicate] = Seq.empty,
    colMap: Map[String, String] = Map.empty) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftRowWriter(writeSchema, partCols, genDir, conf, partitionId, taskId,
      bloomCols, checks, colMap)
}

/** Per-task writer shared by the batch and streaming paths: one parquet file
  * per partition value seen by this task (the clustered write distribution
  * makes that exactly one file per partition per commit).
  *
  * Files are written with the session's parquet codec
  * (`spark.sql.parquet.compression.codec`, read from `conf`, snappy by
  * default), as a DataFrame parquet write would. On the `file` scheme they
  * are created through [[GraftLocalFileSystem]] (the private task conf
  * routes it), so a new file, its `.crc` and its partition dir cost no
  * `chmod` fork. */
class GraftRowWriter(writeSchema: StructType, partCols: Seq[String],
    genDir: String, conf: SerializableHadoopConf, partitionId: Int, taskId: Long,
    bloomCols: Seq[String] = Seq.empty, checks: Seq[GraftCheckPredicate] = Seq.empty,
    colMap: Map[String, String] = Map.empty)
    extends DataWriter[InternalRow] {
      // Identity partition columns strip from the stored rows; HIDDEN
      // transforms (B237 — bucket/days/truncate) derive a path value and
      // keep the source column IN the data.
      private val identityIdx = partCols.filter(c =>
        GraftTransforms.transformOf(c).isEmpty).map(writeSchema.fieldIndex).toArray
      private val dataIdx =
        writeSchema.fields.indices.filterNot(identityIdx.contains).toArray
      // Column mapping (B190): parquet footers, stats, blooms and NDV sketches
      // key by PHYSICAL names — stable across logical renames.
      private val dataSchema = StructType(dataIdx.map(writeSchema.fields).map(f =>
        f.copy(name = colMap.getOrElse(f.name, f.name))))
      // Strip partition columns from the stored rows (they live in the path).
      private val project = UnsafeProjection.create(dataIdx.map(i =>
        BoundReference(i, writeSchema.fields(i).dataType,
          writeSchema.fields(i).nullable): org.apache.spark.sql.catalyst.expressions.Expression))
      // Spark's own parquet codec, wired the way ParquetFileFormat.prepareWrite
      // does: schema + write-path options pinned in the task conf.
      private val taskConf = {
        val c = new Configuration(conf.value)
        ParquetWriteSupport.setSchema(dataSchema, c)
        c.set("parquet.write.support.class", classOf[ParquetWriteSupport].getName)
        c.set("spark.sql.parquet.writeLegacyFormat", "false")
        c.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        c.set("spark.sql.parquet.fieldId.write.enabled", "false")
        c.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        c.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        c.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
        c.set("parquet.compression", ParquetOptions.getParquetCompressionCodecName(
          c.get(SQLConf.PARQUET_COMPRESSION.key, SQLConf.PARQUET_COMPRESSION.defaultValueString)
            .toLowerCase(java.util.Locale.ROOT)))
        GraftLocalFileSystem.routeLocal(c)
      }
      private val writers = scala.collection.mutable.LinkedHashMap
        .empty[String, (ParquetOutputWriter, String, GraftStatsCollector, Array[java.util.BitSet])]
      private var rows = 0L
      // Bloom columns' (name, index in the PROJECTED data row) — one filter
      // per declared column (B211); the name keys the multi-column payload.
      private val bloomIdxs: Seq[(String, Int)] = bloomCols.flatMap { c =>
        val i = dataSchema.fieldNames.indexOf(colMap.getOrElse(c, c))
        if (i >= 0 && GraftBloom.eligible(dataSchema.fields(i).dataType))
          Some((c, i))
        else None
      }

      // One value extractor per spec entry, bound once: identity columns
      // echo the (escaped) value; transform entries emit their derived
      // value — floorMod for bucket, epoch day for days, bin floor /
      // code-point prefix for truncate.
      private val partValueOf: Array[InternalRow => String] = partCols.map { pc =>
        GraftTransforms.transformOf(pc) match {
          case Some(t) =>
            val i = writeSchema.fieldIndex(t.source)
            val dt = writeSchema.fields(i).dataType
            def longAt(row: InternalRow): Long = dt match {
              case LongType => row.getLong(i)
              case IntegerType => row.getInt(i).toLong
              case _ => row.getShort(i).toLong
            }
            val derive: InternalRow => String = t match {
              case GraftTransforms.BucketT(n, _) =>
                row => GraftTransforms.bucketValue(longAt(row), n).toString
              case t: GraftTransforms.TemporalT =>
                if (dt == TimestampType)
                  row => t.unitValue(row.getLong(i)).toString
                else // DateType stores the epoch-day ordinal
                  row => t.unitValueDays(row.getInt(i)).toString
              case GraftTransforms.TruncT(w, _) =>
                if (dt == StringType)
                  row => GraftScanBuilder.escapePartValue(
                    row.getUTF8String(i).substring(0, w).toString)
                else
                  row => GraftTransforms.truncLong(longAt(row), w).toString
            }
            (row: InternalRow) =>
              if (row.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__" else derive(row)
          case None =>
            val i = writeSchema.fieldIndex(pc)
            val dt = writeSchema.fields(i).dataType
            (row: InternalRow) =>
              if (row.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
              else GraftScanBuilder.escapePartValue(row.get(i, dt).toString)
        }
      }.toArray

      private def partPath(row: InternalRow): String =
        partCols.indices.map { k =>
          s"${partCols(k)}=${partValueOf(k)(row)}"
        }.mkString("/")

      override def write(row: InternalRow): Unit = {
        // CHECK constraint gate (B171): a FALSE evaluation fails this task,
        // the job aborts, and the manifest never publishes — whole-commit
        // atomicity for free. NULL passes (SQL tri-state CHECK).
        checks.foreach(_.validate(row, writeSchema))
        val pp = partPath(row)
        val (w, _, stats, bloom) = writers.getOrElseUpdate(pp, {
          // The uuid keeps REPLAYED streaming epochs from colliding with the
          // original attempt's committed files (epoch dirs are deterministic
          // by design; a restarted context reuses low task ids) — the replay
          // writes fresh names, its commit is txn-deduped, and vacuum
          // reclaims the orphans.
          val fileName = s"part-$partitionId-$taskId-" +
            s"${java.util.UUID.randomUUID().toString.take(8)}.parquet"
          val file = if (pp.isEmpty) s"$genDir/$fileName" else s"$genDir/$pp/$fileName"
          val ctx = new TaskAttemptContextImpl(taskConf,
            new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId),
              taskId.toInt))
          (new ParquetOutputWriter(file, ctx), fileName,
            new GraftStatsCollector(dataSchema),
            Array.fill(bloomIdxs.size)(new java.util.BitSet(GraftBloom.Bits)))
        })
        val projected = project(row)
        w.write(projected)
        stats.update(projected)
        var bk = 0
        while (bk < bloomIdxs.size) {
          val i = bloomIdxs(bk)._2
          if (!projected.isNullAt(i)) {
            val v = dataSchema.fields(i).dataType match {
              case StringType => projected.getUTF8String(i).toString
              case LongType => projected.getLong(i).toString
              case IntegerType => projected.getInt(i).toString
              case ShortType => projected.getShort(i).toString
              case _ => null
            }
            if (v != null) GraftBloom.positions(v).foreach(bloom(bk).set)
          }
          bk += 1
        }
        rows += 1
      }

      override def commit(): WriterCommitMessage = {
        writers.values.foreach(_._1.close())
        val genName = new Path(genDir).getName
        val fs = new Path(genDir).getFileSystem(taskConf)
        GraftFilesMessage(writers.toSeq.map { case (pp, (_, fileName, stats, bloom)) =>
          val rel = if (pp.isEmpty) s"$genName/$fileName" else s"$genName/$pp/$fileName"
          val abs = if (pp.isEmpty) new Path(genDir, fileName)
            else new Path(s"$genDir/$pp", fileName)
          GraftFileRecord(pp, rel, stats.encode, fs.getFileStatus(abs).getLen,
            if (bloomIdxs.isEmpty) ""
            else GraftBloom.encodeCols(bloomIdxs.map(_._1).zip(bloom)),
            stats.rowCount, stats.encodeNdv)
        }, rows)
      }

      override def abort(): Unit = {
        writers.values.foreach(w => try w._1.close() catch { case _: Exception => () })
        val fs = new Path(genDir).getFileSystem(taskConf)
        writers.foreach { case (pp, (_, fileName, _, _)) =>
          val file = if (pp.isEmpty) new Path(genDir, fileName)
            else new Path(s"$genDir/$pp", fileName)
          fs.delete(file, false)
        }
      }

      override def close(): Unit = ()
}

object GraftCatalogOps {
  /**
   * VACUUM with retention: physically reclaim files unreferenced by the last
   * `keepGens` manifests and drop the older manifests themselves (time travel
   * past the horizon becomes unavailable — that is the contract of a vacuum).
   *
   * Safety order matters: a file written by gen-k can still be referenced by
   * the CURRENT manifest (appends carry old entries forward), so liveness is
   * decided by membership in any RETAINED manifest's entry list — never by
   * the age of the gen- directory the file happens to sit in. Metadata-only
   * driver work: entry-list set union + a listing walk, no data reads.
   *
   * Reader-lease guard: the reclaim horizon is additionally clamped to the
   * oldest generation any ACTIVE streaming lease still needs (see
   * [[GraftLease]]) — vacuum during an in-flight paced drain blocks the
   * part of the reclaim that drain would trip over, instead of racing it.
   * `leaseTtlMs = 0` disables the guard (every lease reads as expired).
   * Returns (filesDeleted, manifestsDeleted).
   */
  /** Default pre-commit grace: one hour — safely above any reasonable write
    * duration, so a DEFAULT vacuum can never delete a concurrent writer's
    * in-flight files (the Delta posture: retention defaults safe, going
    * aggressive requires the explicit override `uncommittedGraceMs = 0`). */
  val DefaultUncommittedGraceMs: Long = 60L * 60L * 1000L

  def vacuum(spark: SparkSession, root: String, table: String,
             keepGens: Int = 1,
             leaseTtlMs: Long = GraftLease.DefaultTtlMs,
             uncommittedGraceMs: Long = DefaultUncommittedGraceMs,
             dryRun: Boolean = false): (Long, Long) = {
    require(keepGens >= 1, "must retain at least the current generation")
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    val cur = GraftManifest.currentGen(dir, conf)
    val requested = math.max(0L, cur - keepGens + 1)
    val leaseFloor =
      if (leaseTtlMs <= 0) None
      else GraftLease.activeMinGen(dir, conf, leaseTtlMs, System.currentTimeMillis())
    val horizon = leaseFloor.fold(requested)(g => math.min(requested, math.max(0L, g)))
    // Tagged generations (B178) are retained REGARDLESS of the horizon: a tag
    // is a durable snapshot pin, and reclaiming its manifest or files would
    // silently break `VERSION AS OF '<tag>'`.
    val tagged = listTags(dir, conf).values.filter(_ >= 0).toSet
    val retainedGens = ((horizon to cur).toSet ++ tagged).toSeq.sorted
    // Live-branch liveness (B195): every generation of every branch lineage
    // is retained — branch data files sit under the table dir's gen-wap-*
    // dirs and would otherwise read as unreferenced. Branch lineages are
    // short-lived WAP scratch (dropped at fast_forward), so this union is a
    // handful of manifests, never table history.
    val branchManifests: Seq[GraftManifest] =
      listBranches(dir, conf).toSeq.flatMap { case (name, head) =>
        (0L to head).map(g => GraftManifest.load(branchDir(dir, name), g, conf))
      }
    val live: Set[String] = (retainedGens.map(g => GraftManifest.load(dir, g, conf)) ++
        branchManifests).flatMap { m =>
      // A data file's deletion vector is as live as the file: reclaiming a
      // referenced DV would silently resurrect deleted rows.
      m.entries.map(_._2) ++ m.entries.flatMap(e => m.fileDVs.get(e._2))
    }.toSet
    // Concurrent-writer grace (the Delta VACUUM retention posture): a file
    // not referenced by any retained manifest is either DEAD or an in-flight
    // writer's PRE-COMMIT data — indistinguishable by metadata alone. With
    // `uncommittedGraceMs > 0`, only unreferenced files older than the grace
    // window are reclaimed, so a commit that lands within the window never
    // references deleted bytes. The DEFAULT is a safe hour (concurrent
    // writers are on by default, so the default reclaim must be too);
    // passing 0 is the explicit aggressive single-writer override (this
    // repo's tests, which assert exact reclaim counts on seconds-old files).
    val reclaimableBefore = System.currentTimeMillis() - uncommittedGraceMs
    var filesDeleted = 0L
    // Walk BOTH vintages of data dirs: batch/DML generations (gen-*) and
    // streaming epochs (ep-*) — dead epoch files previously accumulated
    // forever because only gen-* was scanned.
    (fs.globStatus(new Path(dir, "gen-*")) ++
      fs.globStatus(new Path(dir, "ep-*"))).foreach { genSt =>
      val genName = genSt.getPath.getName
      val it = fs.listFiles(genSt.getPath, true)
      while (it.hasNext) {
        val f = it.next()
        val rel = genName + f.getPath.toString.stripPrefix(genSt.getPath.toString)
        if (!live.contains(rel) && f.getModificationTime <= reclaimableBefore) {
          // DRY RUN (B209, the Delta `VACUUM ... DRY RUN` audit): count what
          // WOULD reclaim, touch nothing — the pre-flight an operator runs
          // before an irreversible retention change.
          if (!dryRun) fs.delete(f.getPath, false)
          filesDeleted += 1
        }
      }
      if (!dryRun) {
        // Drop directories emptied by the reclaim (best-effort; non-recursive
        // delete refuses non-empty dirs, so a live file can never be lost here).
        fs.listStatus(genSt.getPath).filter(_.isDirectory)
          .foreach(d => try fs.delete(d.getPath, false) catch { case _: Exception => () })
        try fs.delete(genSt.getPath, false) catch { case _: Exception => () }
      }
    }
    var manifestsDeleted = 0L
    (0L until horizon).filterNot(tagged).foreach { g =>
      val p = new Path(dir, s"manifest-$g.txt")
      if (fs.exists(p)) {
        if (!dryRun) fs.delete(p, false)
        manifestsDeleted += 1
      }
    }
    if (dryRun) return (filesDeleted, manifestsDeleted)
    // Crashed-writer litter: a CAS publisher that died before its hard-link
    // claim leaves a `.manifest-*.tmp-*` body (and a failed pointer swap can
    // leave `_CURRENT.tmp-*`). Both are invisible to readers — reclaim them
    // past the same grace window that protects in-flight writers.
    (fs.globStatus(new Path(dir, ".manifest-*.tmp-*")) ++
      fs.globStatus(new Path(dir, "_CURRENT.tmp-*"))).foreach { st =>
      if (st.getModificationTime <= reclaimableBefore) fs.delete(st.getPath, false)
    }
    (filesDeleted, manifestsDeleted)
  }

  /**
   * OPTIMIZE (compaction): read the current snapshot — deletion vectors merge
   * at scan time — and rewrite it through the table's normal clustered write
   * path, committing one generation whose touched partitions carry exactly
   * the fresh files. Small files collapse (clustered distribution → one file
   * per partition per commit) and deletion vectors are materialized away:
   * the rewritten files physically exclude deleted rows, so the fresh entries
   * carry no DV references. Old generations stay time-travel readable until
   * VACUUM. Returns (filesBefore, dvsBefore, filesAfter, dvsAfter).
   *
   * Scale shape: one distributed read + clustered write of the LIVE data
   * only; driver work is two manifest loads. At 100 TB this runs per
   * partition-subset in practice (compact WHERE pk IN …) — the same
   * mechanism, scoped by the caller's filter before writeTo.
   *
   * `minDeletedRatio > 0` switches to DV-TARGETED compaction (the Delta
   * `OPTIMIZE`-on-DV-debt heuristic): only files whose deletion-vector
   * dead-row share meets the threshold are rewritten — the rewrite cost is
   * proportional to the DV-heavy files, never the live table. Targets are
   * picked from manifest metadata alone (DV cardinality / per-file row
   * count, driver-side), read `_file`-pruned with DVs merging at scan time,
   * and swapped in ONE atomic replace-groups commit under the row-level
   * conflict rules. Lightly-deleted files keep their cheap DVs — rewriting
   * a 1 GB file to drop 1% of its rows is exactly the write amplification
   * merge-on-read exists to avoid.
   */
  def optimize(spark: SparkSession, tableRef: String, root: String,
               table: String, minDeletedRatio: Double = 0.0,
               whereSql: String = ""): (Long, Long, Long, Long) = {
    import org.apache.spark.sql.functions.col
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    def snap() = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    def liveDvs(m: GraftManifest): Long =
      m.entries.flatMap(e => m.fileDVs.get(e._2)).size.toLong
    val before = snap()
    require(!GraftPolicies.active(before, spark),
      s"OPTIMIZE on $table requires a policy-exempt role — the compaction " +
        "read would otherwise persist masked values and drop filtered rows")
    // `OPTIMIZE ... WHERE` (B208, the Delta partition-scoped maintenance
    // idiom): a predicate narrows the compaction to the files it MAY touch —
    // resolved/coerced/folded by the same machinery as replaceWhere and
    // pruned through the scan's three metadata layers, so "compact
    // yesterday's partition" on a 100 TB table reads yesterday, not the
    // table. OPTIMIZE rewrites whole FILES (content unchanged, DVs
    // materialized away); it never evaluates the predicate per row, so an
    // untranslatable predicate degrades soundly to all-files candidacy.
    val scoped: Set[String] =
      if (whereSql.isEmpty) before.entries.map(_._2).toSet
      else {
        val resolved = GraftCheck.resolve(whereSql, before.schema, bind = false)
        val folded = resolved.transformUp {
          case e if e.foldable && !e.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.Literal] =>
            org.apache.spark.sql.catalyst.expressions.Literal.create(
              e.eval(null), e.dataType)
        }
        org.apache.spark.sql.GraftBridge.translateFilter(folded) match {
          case Some(f) => mayTouch(before, Array(f)).map(_._2).toSet
          case None => before.entries.map(_._2).toSet
        }
      }
    if (minDeletedRatio <= 0.0 && whereSql.isEmpty) {
      // Full compaction. Self-rewrite is safe: the scan reads immutable old
      // files, the write lands in a new gen dir, and only the commit swaps
      // the manifest. A spec-evolved table (B232) takes the truncate-mode
      // full-snapshot replace instead: dynamic mode replaces by partition
      // PATH, which cannot see pre-evolution files — truncate mode rewrites
      // the whole snapshot under the CURRENT spec, i.e. full OPTIMIZE is the
      // layout-migration operation.
      if (before.specUniform && !before.partCols.exists(GraftTransforms.isTransform))
        spark.table(tableRef).writeTo(tableRef).overwritePartitions()
      else
        // Mixed specs (B232) or hidden buckets (B237): both make dynamic
        // path-replacement unsafe — full-snapshot replace instead.
        spark.table(tableRef).writeTo(tableRef)
          .overwrite(org.apache.spark.sql.functions.lit(true))
    } else {
      val targets = before.entries.map(_._2)
        .filter(scoped.contains)
        .filter { rel =>
          minDeletedRatio <= 0.0 || before.fileDVs.get(rel).exists { dv =>
            val dead = GraftDV.read(dir, dv, conf).length.toDouble
            // An unknown row count (legacy manifest) never qualifies — the
            // heuristic refuses to guess at rewrite cost.
            before.fileRows.get(rel).exists(n => n > 0 && dead / n >= minDeletedRatio)
          }
        }
      if (targets.nonEmpty) {
        spark.table(tableRef).select(col("*"), col("_file"))
          .where(col("_file").isin(targets: _*)).drop("_file")
          .writeTo(tableRef).option("replaceFiles", targets.mkString("\n"))
          .append()
      }
    }
    val after = snap()
    (before.entries.size.toLong, liveDvs(before),
      after.entries.size.toLong, liveDvs(after))
  }

  /** Manifest entries a data predicate MAY touch: partition-value, min/max
    * file-stats, and bloom pruning — the scan's three metadata layers, shared
    * with maintenance ops ([[replaceWhere]]). Driver-side, zero file IO. */
  def mayTouch(m: GraftManifest, filters: Array[Filter]): Seq[(String, String)] = {
    val (part, data0) = filters.partition(
      GraftScanBuilder.isPartitionFilter(_, m.partCols))
    // Stats/blooms key by PHYSICAL names (column mapping, B190).
    val data = if (m.colMap.isEmpty) data0
      else data0.map(GraftScanBuilder.renameFilter(_, m.physicalName))
    val physSchema = m.physicalize(m.dataSchema)
    m.entries.filter { case (partPath, rel) =>
      val values = GraftScanBuilder.partValues(partPath)
      part.forall(f => GraftScanBuilder.matches(f, values, m.schema)) &&
        GraftFileStats.mayMatch(m.fileStats.get(rel), data, physSchema) &&
        GraftBloom.mayMatchCols(m.fileBlooms.get(rel), m.bloomCols, data)
    }
  }

  /**
   * Predicate overwrite (B187, the Delta `replaceWhere` semantics): in ONE
   * atomic commit, delete every row matching `predicateSql` and insert `data`
   * — the idempotent-backfill primitive ("replace March for source=x with
   * this recomputation") that dynamic partition overwrite can't express when
   * the boundary isn't a partition.
   *
   * Scale shape: the predicate resolves against the table schema
   * (case-insensitive + ANSI-coerced, the CHECK machinery), translates to a
   * V1 filter, and prunes the manifest through the scan's own three metadata
   * layers (partition values, file min/max stats, blooms) — only files that
   * MAY hold matching rows are touched. Their surviving (non-matching) rows
   * are read back `_file`-pruned and rewritten together with `data` in one
   * surgical replace-groups commit; every other file rides the manifest
   * forward untouched. On a date-clustered 100 TB table, replacing one day
   * rewrites that day's files, not the table. Deletion vectors merge on the
   * survivor read and the replace-groups conflict rules abort if a concurrent
   * writer moved them (B177).
   *
   * Delta's write invariant holds: every row of `data` must itself satisfy
   * the predicate (else the "replace" could smuggle rows the predicate would
   * not reclaim on re-run); rows where it evaluates NULL count as violations,
   * exactly like Delta. An untranslatable predicate degrades soundly to
   * all-files candidacy — correct, just unpruned.
   *
   * Returns (candidateFiles, totalFiles) — the pruning audit.
   */
  def replaceWhere(spark: SparkSession, tableRef: String, root: String,
      table: String, predicateSql: String,
      data: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    val m = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    val pred = expr(predicateSql)
    val violating = data.where(not(coalesce(pred, lit(false)))).limit(1).count()
    require(violating == 0,
      s"replaceWhere data contains rows not satisfying '$predicateSql' — " +
        "every inserted row must match the predicate it replaces")
    val resolved = GraftCheck.resolve(predicateSql, m.schema, bind = false)
    // Fold constant subtrees (the coercion step leaves casts around literals,
    // which V1 translation refuses) so `key >= 100` translates after ANSI
    // coercion rewrote it to `key >= CAST(100 AS BIGINT)`.
    val folded = resolved.transformUp {
      case e if e.foldable && !e.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          e.eval(null), e.dataType)
    }
    val candidates =
      org.apache.spark.sql.GraftBridge.translateFilter(folded) match {
        case Some(f) => mayTouch(m, Array(f)).map(_._2)
        case None => m.entries.map(_._2)
      }
    val aligned = data.select(m.schema.fieldNames.map(col).toSeq: _*)
    if (candidates.nonEmpty) {
      val survivors = spark.table(tableRef).select(col("*"), col("_file"))
        .where(col("_file").isin(candidates: _*))
        .where(not(coalesce(pred, lit(false)))).drop("_file")
      survivors.unionByName(aligned)
        .writeTo(tableRef).option("replaceFiles", candidates.mkString("\n"))
        .append()
    } else aligned.writeTo(tableRef).append()
    (candidates.size.toLong, m.entries.size.toLong)
  }

  /** Append with generated-column auto-compute (B189, the Delta write UX):
    * any generated column the frame lacks is computed from its declared
    * expression before the append; provided columns pass through and the
    * write-path invariant judges them per row. */
  def insertGenerated(spark: SparkSession, tableRef: String, root: String,
      table: String, df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    val m = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    GraftGenerated.fill(df, m.props)
      .select(m.schema.fieldNames.map(col).toSeq: _*)
      .writeTo(tableRef).append()
  }

  /**
   * SHALLOW CLONE (B188, the Delta `CREATE TABLE … SHALLOW CLONE` design):
   * create `dstTable` as a METADATA-ONLY copy of `srcTable`'s current
   * snapshot — zero data bytes move, the clone's gen-0 manifest references
   * the source's files by ABSOLUTE path (the same mechanism Delta's clone
   * uses: absolute `add` paths into the source table). On a 100 TB table the
   * clone costs one manifest write; dev/test forks, experiment branches, and
   * migration dry-runs start instantly.
   *
   * Post-clone the tables diverge INDEPENDENTLY: appends, CoW rewrites, and
   * DV DML on the clone land under the clone's own directory (a DV on an
   * inherited file is keyed by its absolute rel — merge-on-read composes);
   * nothing the clone does can touch source bytes, and the clone's VACUUM
   * walks only its own gen dirs so inherited files are never reclaimed by it.
   * Schema, properties (CHECKs, clustering, bloom), per-file stats/blooms/
   * NDVs/row counts, and deletion vectors all carry over, so data skipping
   * and CBO statistics work on the clone from the first query. The txn
   * ledger does NOT carry (a clone is a new table; a replayed writer must
   * not be deduped against the source's history). The current snapshot is
   * cloned — clone an older state by RESTORE-then-clone or clone-then-RESTORE.
   *
   * The Delta-documented hazard is inherited deliberately: the clone does
   * NOT pin source files against the SOURCE's own maintenance. A source
   * rewrite (OPTIMIZE/overwrite) followed by source VACUUM past its horizon
   * reclaims bytes only the clone still references, and the clone's next
   * read fails LOUDLY (missing file) — exactly Delta's shallow-clone
   * contract. Returns the clone's generation (always 0).
   *
   * `propsOverride` merges over the inherited properties (Delta's
   * `CREATE TABLE … SHALLOW CLONE … TBLPROPERTIES (…)` surface): the clone
   * keeps the source's CHECKs/clustering/blooms unless the caller overrides
   * them — e.g. re-pointing a cloned incremental VIEW's `mview.source` at a
   * cloned source table, or relaxing a constraint on a dev fork.
   */
  def cloneTable(spark: SparkSession, root: String, srcTable: String,
      dstTable: String, propsOverride: Map[String, String] = Map.empty): Long = {
    val srcDir = new Path(root, srcTable)
    val dstDir = new Path(root, dstTable)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dstDir.getFileSystem(conf)
    require(GraftManifest.generations(dstDir, conf).isEmpty,
      s"clone target $dstTable already exists")
    val m = GraftManifest.load(srcDir,
      GraftManifest.currentGen(srcDir, conf), conf)
    def abs(rel: String): String =
      if (new Path(rel).isAbsolute) rel else new Path(srcDir, rel).toString
    def remap[T](mm: Map[String, T]): Map[String, T] =
      mm.map { case (k, v) => abs(k) -> v }
    val cloned = GraftManifest(gen = 0L, schema = m.schema,
      partCols = m.partCols,
      entries = m.entries.map { case (p, rel) => (p, abs(rel)) },
      txns = Set.empty,
      fileStats = remap(m.fileStats),
      fileBytes = remap(m.fileBytes),
      props = m.props ++ propsOverride,
      fileBlooms = remap(m.fileBlooms),
      fileDVs = remap(m.fileDVs).map { case (k, dv) => k -> abs(dv) },
      fileRows = remap(m.fileRows),
      fileNdvs = remap(m.fileNdvs),
      fileDVAggs = remap(m.fileDVAggs))
    GraftManifest.publish(dstDir, cloned, conf)
    0L
  }

  /**
   * CHANGE DATA FEED (B169, the Delta CDF / Iceberg changelog-scan semantics):
   * the row-level changes a table underwent across generations
   * (fromGen, toGen], each row tagged `_change_type` ('insert' | 'delete';
   * an update is its delete+insert pair) and `_commit_version`.
   *
   * Computed from what the format already records — no extra change files at
   * write time. Each generation's changes are the slices
   * [[GraftChangeSlice.plan]] plans for it, the same slices the `t$changes`
   * stream reads, and the feed reads them in ONE batch scan through the same
   * slice reader: only the touched files (and the DV'd ones) are read, never
   * the table, and manifest/DV work is driver-side metadata. The table is
   * read from its files under `root`, never resolved by name.
   *
   * A generation with slices on BOTH sides (a delta UPDATE, or a
   * copy-on-write rewrite or OPTIMIZE, which re-copies unchanged rows
   * verbatim) is netted: per (row, version), net = inserted − deleted
   * copies; net < 0 emits |net| deletes, net > 0 emits net inserts, and an
   * unchanged copied row cancels — exactly `exceptAll`'s multiset on each
   * side. Pure-append and pure-delete generations are read without an
   * aggregate.
   *
   * Schema: toGen's (partition columns included: a change row without its
   * partition key cannot be replayed); pre-ADD-COLUMN rows surface null for
   * the new columns, as the snapshots themselves do. Requires manifests
   * ≥ fromGen to still exist — a VACUUM past that horizon fails the feed
   * loudly.
   */
  def changes(spark: SparkSession, root: String, table: String,
              fromGen: Long, toGen: Long): org.apache.spark.sql.DataFrame = {
    require(fromGen >= 0 && toGen > fromGen,
      s"need 0 <= fromGen < toGen, got ($fromGen, $toGen]")
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    (fromGen to toGen).foreach(g => GraftManifest.requireRetained(dir, g, conf)(
      s"change feed needs manifest-$g, which VACUUM has reclaimed — " +
        "narrow the range to retained generations"))
    val mTo = GraftManifest.load(dir, toGen, conf)
    val ident = Identifier.of(Array.empty, table)
    // The reader builds one parquet reader per partition spec among its
    // manifest's entries, so it is handed the slices' own files: a file a
    // rewrite removed may carry a spec no toGen file does.
    def scan(slices: Seq[GraftChangeSlice]) = GraftBridge.ofRows(spark,
      DataSourceV2Relation.create(new GraftChangesTable(ident, dir,
        mTo.copy(entries = slices.map(s => s.file.partPath -> s.file.rel).distinct),
        Some(slices)), None, Some(ident)))
    // Generations with slices on both sides are netted; the rest read plain.
    val (mixed, pure) = (fromGen + 1 to toGen).map(GraftChangeSlice.plan(dir, _, conf))
      .partition(ss => ss.map(_.changeType).distinct.size == 2)
    val (netted, plain) = (mixed.flatten, pure.flatten)
    val frames =
      (if (plain.nonEmpty || netted.isEmpty) Seq(scan(plain)) else Nil) ++
        (if (netted.nonEmpty) Seq(netChanges(spark, scan(netted))) else Nil)
    frames.reduce(_ union _)
  }

  /** The change feed's netting over `feed`'s attributes (so no helper column
    * can shadow a user column), in the formulation of Spark's
    * `RewriteExceptAll` for both sides at once: an Aggregate of the signed
    * count per (row, version), a Filter dropping zero nets, and a
    * `ReplicateRows` generator emitting |net| copies as the winning side —
    * no per-row array. */
  private def netChanges(spark: SparkSession, feed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Abs, Alias, If, LessThan, Literal, Not, ReplicateRows, EqualTo => Eq}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Project, Filter => Where}
    import GraftChangeSlice.{Delete, Insert}
    val child = GraftBridge.analyzed(feed)
    val changeType = child.output.find(_.name == GraftChangesTable.ChangeType).get
    val keys = child.output.filterNot(_ == changeType)
    val count = Alias(Sum(If(Eq(changeType, Literal(Delete)), Literal(-1L), Literal(1L)))
      .toAggregateExpression(), "net")()
    val net = count.toAttribute
    val nonZero = Where(Not(Eq(net, Literal(0L))), Aggregate(keys, keys :+ count, child))
    val rows = child.output.map(a =>
      if (a == changeType) If(LessThan(net, Literal(0L)), Literal(Delete), Literal(Insert)) else a)
    val output = child.output.map(_.newInstance())
    GraftBridge.ofRows(spark, Project(output,
      Generate(ReplicateRows(Abs(net) +: rows), Nil, outer = false, None, output, nonZero)))
  }

  /**
   * Named snapshot TAGS (B178, the Iceberg tag design): `tag` pins a
   * generation under a durable name — readable forever via
   * `VERSION AS OF '<name>'` — and VACUUM treats every tagged generation as
   * retained (its manifest and files survive any horizon), so a tag is a
   * compliance-grade snapshot handle, not a convenience alias. `untag`
   * releases the pin; the next VACUUM may then reclaim it. Tag state is one
   * tiny ref file per name (`ref-<name>.txt`), atomic by tmp+rename.
   */
  def tag(spark: SparkSession, root: String, table: String,
          name: String, gen: Long): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"tag name must be [A-Za-z0-9_-]+, got '$name'")
    require(name.exists(!_.isDigit), s"tag '$name' would shadow numeric time travel")
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    val fs = GraftLocalFileSystem.forPath(dir, conf)
    require(fs.exists(new Path(dir, s"manifest-$gen.txt")),
      s"cannot tag generation $gen — no such committed manifest")
    require(!fs.exists(branchDir(dir, name)),
      s"a branch '$name' already exists on $table — tag and branch names " +
        "share the VERSION AS OF namespace")
    val tmp = new Path(dir, s"_ref-$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(gen.toString.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val ref = new Path(dir, s"ref-$name.txt")
    if (fs.exists(ref)) fs.delete(ref, false)
    require(fs.rename(tmp, ref), s"tag publish failed: $ref")
  }

  def untag(spark: SparkSession, root: String, table: String, name: String): Boolean = {
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    dir.getFileSystem(conf).delete(new Path(dir, s"ref-$name.txt"), false)
  }

  def resolveTag(dir: Path, name: String, conf: Configuration): Option[Long] = {
    val fs = dir.getFileSystem(conf)
    val ref = new Path(dir, s"ref-$name.txt")
    if (!fs.exists(ref)) None
    else {
      val in = fs.open(ref)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  def listTags(dir: Path, conf: Configuration): Map[String, Long] = {
    val fs = dir.getFileSystem(conf)
    val st = fs.globStatus(new Path(dir, "ref-*.txt"))
    if (st == null) Map.empty
    else st.map { s =>
      val name = s.getPath.getName.stripPrefix("ref-").stripSuffix(".txt")
      name -> resolveTag(dir, name, conf).getOrElse(-1L)
    }.toMap
  }

  /**
   * BRANCHES — the write-audit-publish pattern (B195, the Iceberg branch +
   * `fast_forward` design, Delta's WAP idiom): a branch is a SHADOW MANIFEST
   * LINEAGE in `<table>/branch-<name>/` that reuses the exact main commit
   * protocol (CAS manifest claims, CURRENT cache, rebase loop) on its own
   * directory — zero new concurrency machinery. Branch writes land data
   * files under the TABLE dir (entries stay table-relative), so publishing
   * is pure metadata: `fastForward` re-publishes the branch HEAD manifest as
   * main's next generation through [[GraftManifest.publishNext]], refusing
   * if main advanced past the recorded fork base (the WAP contract — a
   * diverged branch needs a fresh fork, never a silent merge). Data files a
   * dropped branch strands are reclaimed by the next VACUUM; files a LIVE
   * branch references are vacuum-exempt (see the liveness union in
   * [[vacuum]]). Branch data dirs are named `gen-wap-<uuid>` — genOf reads
   * them as vintage-unknown (the streaming-epoch posture), so a
   * fast-forwarded file never masquerades as an old main generation.
   */
  def branchDir(dir: Path, name: String): Path = new Path(dir, s"branch-$name")

  def createBranch(spark: SparkSession, root: String, table: String,
                   name: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"branch name must be [A-Za-z0-9_-]+, got '$name'")
    require(name.exists(!_.isDigit), s"branch '$name' would shadow numeric time travel")
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    require(resolveTag(dir, name, conf).isEmpty,
      s"a tag '$name' already exists on $table — tag and branch names share " +
        "the VERSION AS OF namespace")
    val bd = branchDir(dir, name)
    require(!fs.exists(bd), s"branch '$name' already exists on $table")
    val cur = GraftManifest.currentGen(dir, conf)
    val m = GraftManifest.load(dir, cur, conf)
    val seed = m.copy(gen = 0L,
      props = m.props + ("branch.name" -> name) + ("branch.base" -> cur.toString))
    require(GraftManifest.publishCas(bd, seed, conf),
      s"branch '$name' seed commit lost a race — another creator won")
    cur
  }

  /** Head manifest of a live branch (branch-local gen numbering; entries are
    * table-relative and resolve against the TABLE dir). */
  def resolveBranch(dir: Path, name: String, conf: Configuration): Option[GraftManifest] = {
    val bd = branchDir(dir, name)
    if (!bd.getFileSystem(conf).exists(bd)) None
    else Some(GraftManifest.load(bd, GraftManifest.currentGen(bd, conf), conf))
  }

  def listBranches(dir: Path, conf: Configuration): Map[String, Long] = {
    val fs = dir.getFileSystem(conf)
    val st = fs.globStatus(new Path(dir, "branch-*"))
    if (st == null) Map.empty
    else st.filter(_.isDirectory).map { s =>
      val name = s.getPath.getName.stripPrefix("branch-")
      name -> GraftManifest.currentGen(s.getPath, conf)
    }.toMap
  }

  /** Publish the branch head as main's next generation (the audited WAP
    * publish). Refuses when main advanced past the fork base — fast-forward
    * only, never a merge. Drops the branch on success (its manifests are
    * scratch; the published main generation owns the snapshot now). Returns
    * the published main generation. */
  def fastForward(spark: SparkSession, root: String, table: String,
                  name: String): Long = {
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    val bm = resolveBranch(dir, name, conf).getOrElse(throw new IllegalArgumentException(
      s"no branch '$name' on $table — known branches: " +
        listBranches(dir, conf).keys.toSeq.sorted.mkString(", ")))
    val base = bm.props.getOrElse("branch.base",
      throw new IllegalStateException(s"branch '$name' carries no fork base")).toLong
    val published = GraftManifest.publishNext(dir, conf) { cur =>
      require(cur.gen == base,
        s"cannot fast-forward branch '$name': main advanced from fork base " +
          s"$base to ${cur.gen} — diverged; re-fork and replay the branch work")
      bm.copy(gen = cur.gen + 1, props = bm.props - "branch.name" - "branch.base")
    }
    dropBranch(spark, root, table, name)
    published.gen
  }

  /** Delete a branch lineage. Stranded branch-written data files become
    * vacuum fodder (they are referenced by no retained manifest). */
  def dropBranch(spark: SparkSession, root: String, table: String,
                 name: String): Boolean = {
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    dir.getFileSystem(conf).delete(branchDir(dir, name), true)
  }

  /**
   * COPY INTO (B200, the Delta/Databricks `COPY INTO` design — exactly-once
   * landing-zone ingestion): load a directory of raw files into a catalog
   * table such that EVERY source file is ingested AT MOST ONCE across any
   * number of re-runs, crashes, and concurrent copies — the idempotent
   * bulk-load primitive an orchestrator retries blindly. Each ingested
   * source file leaves a `copy:<path>` marker in the commit's txn ledger, so
   * the loaded-set travels WITH the snapshot (same channel as B180's batch
   * keys — no side-table, no listing-state file): planning diffs the
   * directory listing against the ledger and loads only the remainder in ONE
   * atomic commit carrying both the rows and the markers. A replayed commit
   * (all markers present at rebase time) publishes nothing; a PARTIAL
   * overlap (a concurrent copy won some files) refuses rather than
   * double-loads. The source schema is ENFORCED to the table's (reads with
   * the table schema, so drift fails loudly, not by column shift).
   * Returns (filesLoaded, filesSkipped).
   */
  def copyInto(spark: SparkSession, catalog: String, root: String,
               table: String, srcDir: String,
               format: String = "parquet"): (Long, Long) = {
    require(Set("parquet", "csv", "json")(format),
      s"COPY INTO supports parquet | csv | json, got $format")
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    val m = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    val src = new Path(srcDir)
    val fs = src.getFileSystem(conf)
    val listed = Option(fs.globStatus(new Path(src, "*"))).getOrElse(Array.empty)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted.toSeq
    listed.foreach(p => require(!p.exists(ch => ch == '\n' || ch == '\t' || ch == '\r'),
      s"source path contains a control character: $p"))
    val fresh = listed.filterNot(p => m.txns.contains("copy:" + p))
    if (fresh.isEmpty) return (0L, listed.size.toLong)
    val reader = format match {
      case "csv"  => spark.read.schema(m.schema).option("header", "true").csv(fresh: _*)
      case "json" => spark.read.schema(m.schema).json(fresh: _*)
      case _      => spark.read.schema(m.schema).parquet(fresh: _*)
    }
    GraftCommitOutcome.reset()
    reader.select(m.schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
      .writeTo(s"$catalog.`$table`")
      .option("txnFiles", fresh.map("copy:" + _).mkString("\n"))
      .append()
    // The counts reflect the COMMIT outcome, not planning-time state: a
    // concurrent copy that ingested every planned file between planning and
    // commit absorbs our write as a full replay (nothing published) — those
    // files were loaded by the OTHER invocation, so this one reports them
    // skipped. (A partial overlap threw inside the commit.)
    if (GraftCommitOutcome.lastPublished.contains(false))
      (0L, listed.size.toLong)
    else (fresh.size.toLong, (listed.size - fresh.size).toLong)
  }

  /**
   * INCREMENTAL MATERIALIZED VIEWS (B198, the Delta Live Tables / DB
   * materialized-view maintenance pattern — what the change data feed
   * exists to serve): a view is a normal catalog TABLE holding a grouped
   * aggregate of a source table, plus three props naming the definition
   * (`mview.source/keys/sum`). REFRESH folds only the source's CHANGE FEED
   * since the last fold — work proportional to the DELTA and the VIEW, never
   * the source: a 100 TB source with an MB-scale daily delta refreshes in
   * seconds, where `CREATE OR REPLACE ... AS SELECT` re-scans everything.
   *
   * Maintained aggregates are COUNT(*) and SUM (the self-maintainable
   * abelian set: an update is a delete+insert pair in the feed, and +1/-1
   * signed folding is exact under both; AVG derives as sum/count), plus
   * MIN/MAX with the standard delete-aware dodge (the Oracle/Materialize
   * posture): inserts fold exactly (least/greatest with the stored
   * extremum), and a fold whose delta DELETES a value that could be a
   * group's extremum (deleted value ≤ mv_min or ≥ mv_max — a strictly
   * interior delete provably strips nothing) recomputes ONLY the affected
   * groups from the base snapshot, semi-join-pruned to those group keys —
   * work ∝ touched groups, never the source. NULL deletes never force a
   * recompute (nulls don't contribute to extremes), and min/max columns
   * keep the declared column's own type (no widening), so serving them
   * back preserves the query's output schema exactly.
   *
   * Exactly-once refresh WITHOUT a second metadata channel: each refresh
   * overwrite rides the B180 txn ledger (`txnAppId='mview', txnVersion=
   * <source gen folded to>`), so the fold FLOOR is readable from the view's
   * own manifest (`mviewFoldFloor`) and a crashed-and-replayed refresh
   * publishes nothing — one atomic commit carries both the new state and
   * the new floor. A source RESTORE below the floor refuses loudly (the
   * feed cannot run backwards; rebuild the view).
   */
  def createMview(spark: SparkSession, catalog: String, root: String,
                  name: String, source: String, keys: Seq[String],
                  sumCol: String): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    require(keys.nonEmpty, "materialized view needs at least one grouping key")
    val srcDir = new Path(root, source)
    val conf = spark.sessionState.newHadoopConf()
    // Pin the snapshot BEFORE reading: a commit racing this CTAS lands in
    // the first refresh instead of silently splitting the seed.
    val g0 = GraftManifest.currentGen(srcDir, conf)
    val snap = spark.sql(s"SELECT * FROM $catalog.`$source` VERSION AS OF $g0")
    Seq(sumCol).foreach { c =>
      val dt = snap.schema(snap.schema.fieldIndex(c)).dataType
      require(Set[DataType](LongType, IntegerType, ShortType)(dt),
        s"mview sum column $c must be integral for exact folding, got ${dt.sql}")
    }
    import org.apache.spark.sql.functions.{hll_sketch_agg, max, min}
    snap.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("mv_count"), sum(col(sumCol)).cast("long").as("mv_sum"),
        // count of NON-NULL sum-column rows: what avg(sumCol) divides by —
        // mv_count counts all rows, so serving avg as mv_sum/mv_count would
        // be wrong the moment a group holds a NULL (B234's AVG rewrite
        // reads this column instead).
        count(col(sumCol)).as("mv_nncount"),
        // UNCAST extremes: min/max preserve their input type, so the B234
        // rewrite can serve them back without changing the query's schema.
        min(col(sumCol)).as("mv_min"), max(col(sumCol)).as("mv_max"),
        // Mergeable DataSketches HLL over the sum column (lgK = the engine
        // default 12, stamped below): B234 serves the Spark 3.5 sketchable
        // distinct shape hll_sketch_estimate(hll_sketch_agg(x)) from this.
        // Cast to long: the sketch hashes ints widened to long, so the
        // stored sketch equals a query's sketch over the int column; SHORT
        // columns can't feed hll_sketch_agg at all, their sketch is inert.
        hll_sketch_agg(col(sumCol).cast("long")).as("mv_hll"))
      .writeTo(s"$catalog.`$name`")
      .tableProperty("mview.source", source)
      .tableProperty("mview.keys", keys.mkString(","))
      .tableProperty("mview.sum", sumCol)
      .tableProperty("mview.gen", g0.toString)
      // The lgK every mv_hll sketch (seed, folds, recomputes) is built at;
      // B234 serves only queries sketching at exactly this lgK.
      .tableProperty("mview.hll_lgk", "12")
      // The B233 visibility regime the seed aggregate was computed under —
      // folds refuse when the source's effective regime differs (see
      // GraftPolicies.regime); recompute_mview re-stamps (it replaces every
      // value under the session's current regime).
      .tableProperty("mview.policy", GraftPolicies.regime(
        GraftManifest.load(srcDir, g0, conf).props, spark))
      // The seed's sum() runs under the SESSION's eval mode: ANSI raises on
      // Long overflow (a stored mv_sum is therefore EXACT), LEGACY wraps (a
      // stored mv_sum may be the wrapped value). B234 reads this stamp to
      // refuse serving an ANSI-mode query from a legacy-folded view — the
      // one pairing where the rewrite could answer a wrapped value the
      // un-rewritten query would have raised ARITHMETIC_OVERFLOW on.
      .tableProperty("mview.foldmode",
        if (spark.sessionState.conf.ansiEnabled) "ansi" else "legacy")
      .create()
    // The rewrite rule caches namespace view listings (30 s TTL); a view
    // created through this API must start serving immediately.
    graft.plans.MviewRewriteRule.invalidateCache()
    g0
  }

  /** Largest source generation already folded into the view: the seed prop
    * or the newest refresh commit in the txn ledger, whichever is later.
    * The `mview` txnAppId is reserved on view tables — a user idempotent
    * write claiming it with a non-numeric version would corrupt the floor,
    * so ledger keys that don't parse as generations refuse loudly (and a
    * view missing its seed prop gets a clear error, not a `.max` on empty). */
  def mviewFoldFloor(m: GraftManifest): Long = {
    val ledger = m.txns.collect {
      case t if t.startsWith("batch:mview:") =>
        val v = t.stripPrefix("batch:mview:")
        v.toLongOption.getOrElse(throw new IllegalStateException(
          s"txn ledger entry 'mview:$v' is not a source generation — the " +
            "'mview' txnAppId is reserved for refresh commits on view tables"))
    }
    (m.props.get("mview.gen").map(_.toLong).toSet ++ ledger).maxOption
      .getOrElse(throw new IllegalStateException(
        "view has neither an mview.gen seed property nor a refresh ledger " +
          "entry — not a materialized view, or its seed commit was lost"))
  }

  /** Fold the source change feed (floor, current] into the view in one
    * idempotent overwrite commit. Returns (fromGen, toGen); equal means the
    * view was already current and nothing was published. */
  def refreshMview(spark: SparkSession, catalog: String, root: String,
                   name: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
    val dir = new Path(root, name)
    val conf = spark.sessionState.newHadoopConf()
    val m = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    val source = m.props.getOrElse("mview.source", throw new IllegalArgumentException(
      s"$name is not a materialized view (no mview.source property)"))
    val keys = m.props("mview.keys").split(',').toSeq
    val sumCol = m.props("mview.sum")
    val from = mviewFoldFloor(m)
    val to = GraftManifest.currentGen(new Path(root, source), conf)
    require(to >= from,
      s"source $source is at generation $to, below the view's fold floor $from " +
        "(RESTORE ran backwards past the floor) — rebuild the view")
    if (to == from) return (from, to)
    // Declaration-vs-schema drift (B190 × B198): mview.keys / mview.sum
    // store SOURCE column names; a RENAME (or re-typed recreate) of one of
    // them since the seed would otherwise surface as a bare
    // UNRESOLVED_COLUMN from deep inside the fold. Name the actual problem
    // and the remedy instead.
    val srcM = GraftManifest.load(new Path(root, source), to, conf)
    locally {
      val srcCols = srcM.schema.fieldNames.map(_.toLowerCase).toSet
      val missing = (keys :+ sumCol).filterNot(c => srcCols(c.toLowerCase))
      require(missing.isEmpty,
        s"view $name declares ${missing.mkString(", ")} over source $source, " +
          "but the source no longer has that column (renamed or dropped " +
          "since the view was created) — drop and recreate the view against " +
          "the current schema, or rename the column back")
    }
    // B233 regime gate: the stored aggregates reflect the SEED session's
    // effective policy regime (stamped at create); folding deltas read under
    // a different regime — a policy added/changed/dropped since, or this
    // refresher's exemption differing from the seeder's — would silently mix
    // visibility regimes inside one view. A missing stamp (pre-r14 view) is
    // the unpoliced regime: those views were only ever built on unpoliced
    // sources, and if the source grew policies since, the mismatch refuses
    // exactly as it should.
    val srcProps = srcM.props
    val curRegime = GraftPolicies.regime(srcProps, spark)
    // A missing stamp is trustworthy as the unpoliced regime ONLY while the
    // source declares no policies at all (then every historical read was
    // unpoliced regardless of session); on a POLICIED source it means a
    // pre-stamp vintage whose seed regime is unknowable — refuse.
    val stampedRegime = m.props.get("mview.policy").getOrElse(
      if (GraftPolicies.declared(srcProps)) "<unknown: pre-stamp view>"
      else "none")
    require(stampedRegime == curRegime,
      s"view $name materializes the policy regime [$stampedRegime] stamped " +
        s"at seed time, but this session now reads $source under " +
        s"[$curRegime] — an incremental fold would mix visibility regimes; " +
        s"run CALL <catalog>.system.recompute_mview(name => '$name') to " +
        "rebuild every value (and the stamp) under the current regime")
    import org.apache.spark.sql.functions.{greatest, hll_sketch_agg, hll_union, least, max, min}
    // Views created before the mv_min/mv_max (r12) / mv_hll (r14) columns
    // existed fold without them (schema-compatible overwrite); B234 simply
    // refuses their MIN/MAX / sketch rewrites via the same schema probe it
    // uses for mv_nncount.
    val viewCols = spark.table(s"$catalog.`$name`").columns
    val hasMinMax = viewCols.exists(_.equalsIgnoreCase("mv_min"))
    val hasHll = viewCols.exists(_.equalsIgnoreCase("mv_hll"))
    val sign = when(col(GraftChangesTable.ChangeType) === "insert", 1L).otherwise(-1L)
    val baseAggs = Seq(
      sum(sign).as("d_count"), sum(sign * col(sumCol)).cast("long").as("d_sum"),
      sum(when(col(sumCol).isNotNull, sign).otherwise(0L)).as("d_nncount"))
    val mmAggs =
      if (!hasMinMax) Seq.empty
      else Seq(
        min(when(sign === 1L, col(sumCol))).as("d_ins_min"),
        max(when(sign === 1L, col(sumCol))).as("d_ins_max"),
        min(when(sign === -1L, col(sumCol))).as("d_del_min"),
        max(when(sign === -1L, col(sumCol))).as("d_del_max"))
    // HLL delta: inserts fold exactly (a sketch union can only ADD distinct
    // values, and inserting an already-present value is a union no-op); a
    // non-NULL DELETE may remove a value's last occurrence, which no sketch
    // can subtract — flag the group for the same semi-join-pruned recompute
    // leg min/max use. NULL rows never enter a sketch on either side.
    val hllAggs =
      if (!hasHll) Seq.empty
      else Seq(
        hll_sketch_agg(when(sign === 1L, col(sumCol).cast("long")))
          .as("d_hll_ins"),
        max(when(sign === -1L && col(sumCol).isNotNull, true))
          .as("d_hll_del"))
    // The min/max fold references the delta twice (fold columns + the
    // recompute-key selection) — persist the AGGREGATED delta (group-count-
    // sized, tiny by construction) so the change-feed scan runs once, not
    // per reference. Released before returning.
    val allAggs = baseAggs ++ mmAggs ++ hllAggs
    val delta0 = changes(spark, root, source, from, to)
      .groupBy(keys.map(col): _*)
      .agg(allAggs.head, allAggs.tail: _*)
    val delta = if (hasMinMax) delta0.persist() else delta0
    try {
    // Fold-mode stamp maintenance (see createMview): "ansi" survives only if
    // EVERY fold since the seed ran under ANSI — one LEGACY fold can wrap a
    // stored sum, and a later ANSI fold would not detect it, so the mode
    // AND-combines and only ever weakens. FAIL-SAFE ORDER: the downgrade
    // publishes BEFORE the fold overwrite — a crash between the two then
    // leaves a 'legacy' stamp on a still-ansi view (merely conservative:
    // ANSI queries stop serving until a re-stamp), where the reverse order
    // left a LEGACY-folded view stamped 'ansi' FOREVER (the overwrite
    // advances the fold floor, so the replayed refresh early-returns and the
    // downgrade never runs — exactly the unsoundness the stamp prevents).
    val prevMode = m.props.getOrElse("mview.foldmode", "legacy")
    val newMode =
      if (prevMode == "ansi" && spark.sessionState.conf.ansiEnabled) "ansi"
      else "legacy"
    if (newMode != prevMode)
      GraftManifest.publishNext(dir, conf)(cur =>
        cur.copy(gen = cur.gen + 1,
          props = cur.props + ("mview.foldmode" -> newMode)))
    // NULL-SAFE key joins throughout the fold: the view stores a NULL
    // grouping key as a group like any other (groupBy does), but an
    // equality-keyed full-outer join never matches NULL=NULL — the NULL
    // group would SPLIT into a stale view row plus a fresh delta row, both
    // committing, and the rewrite would then serve two rows for one group.
    val viewDf = spark.table(s"$catalog.`$name`").alias("mv")
    val deltaA = delta.alias("dd")
    val joinCond = keys.map(k => col(s"mv.$k") <=> col(s"dd.$k")).reduce(_ && _)
    val keyOut = keys.map(k => coalesce(col(s"mv.$k"), col(s"dd.$k")).as(k))
    val newNn =
      coalesce(col("mv_nncount"), lit(0L)) + coalesce(col("d_nncount"), lit(0L))
    val foldCols = Seq(
      (coalesce(col("mv_count"), lit(0L)) + coalesce(col("d_count"), lit(0L)))
        .as("mv_count"),
      // sum(x) is NULL iff a group holds no non-null x — keep that exact
      // through folding (a plain coalesce-add would turn it into 0).
      when(newNn > 0L,
        coalesce(col("mv_sum"), lit(0L)) + coalesce(col("d_sum"), lit(0L)))
        .as("mv_sum"),
      newNn.as("mv_nncount"))
    val joined = viewDf.join(deltaA, joinCond, "full_outer")
    val merged =
      if (!hasMinMax)
        joined.select(keyOut ++ foldCols: _*).filter(col("mv_count") > 0)
      else {
        // MIN/MAX delete-aware maintenance: inserts fold exactly
        // (least/greatest skip NULLs, so a new group adopts the inserted
        // extremes and NULL inserts contribute nothing); a group needs a
        // RECOMPUTE only when the delta deleted a value that could be its
        // stored extremum — a strictly interior deleted range (mv_min <
        // deleted values < mv_max) provably strips nothing, and NULL deletes
        // never do (min/max ignore NULLs). A delete hitting a group the view
        // doesn't carry (insert+delete inside one fold window) recomputes
        // conservatively. Recompute work ∝ touched groups: the base snapshot
        // AT THE FOLD TARGET generation is semi-join-pruned to exactly those
        // group keys (AQE collapses the scan entirely when no group is
        // flagged). The delta fold is referenced twice (flag + recompute
        // keys) — delta-sized work by doctrine, never source-sized.
        val recomp = col("d_del_min").isNotNull && (col("mv_min").isNull ||
          col("d_del_min") <= col("mv_min") || col("d_del_max") >= col("mv_max"))
        // HLL fold: union stored sketch with the insert-delta sketch (NULL
        // on either side = the other side verbatim); any non-NULL delete
        // flags the group for sketch recompute — a sketch cannot subtract.
        val hllFoldCols =
          if (!hasHll) Seq.empty
          else Seq(
            when(col("mv_hll").isNull, col("d_hll_ins"))
              .when(col("d_hll_ins").isNull, col("mv_hll"))
              .otherwise(hll_union(col("mv_hll"), col("d_hll_ins")))
              .as("f_hll"),
            coalesce(col("d_hll_del"), lit(false)).as("__hllrecomp"))
        val withFlag = joined.select(keyOut ++ foldCols ++ Seq(
          least(col("mv_min"), col("d_ins_min")).as("f_min"),
          greatest(col("mv_max"), col("d_ins_max")).as("f_max"),
          recomp.as("__recomp")) ++ hllFoldCols: _*)
        // ONE base-snapshot pass serves both recompute families: the key
        // set is the union of extremum-threatened and sketch-invalidated
        // groups (each family reads only its own recomputed columns back).
        val anyRecomp =
          if (hasHll) col("__recomp") || col("__hllrecomp") else col("__recomp")
        val recompKeys = withFlag.filter(anyRecomp)
          .select(keys.map(col): _*).alias("rk")
        val base = spark.sql(s"SELECT * FROM $catalog.`$source` VERSION AS OF $to")
          .alias("b")
        val rAggs = Seq(min(col(sumCol)).as("r_min"), max(col(sumCol)).as("r_max")) ++
          (if (hasHll)
            Seq(hll_sketch_agg(col(sumCol).cast("long")).as("r_hll"))
          else Seq.empty)
        // Distinct output names on the recompute leg keep the re-join
        // unambiguous; <=> everywhere so NULL-key groups match themselves.
        val recomputed = base
          .join(recompKeys,
            keys.map(k => col(s"b.$k") <=> col(s"rk.$k")).reduce(_ && _),
            "left_semi")
          .groupBy(keys.map(k => col(s"b.$k")): _*)
          .agg(rAggs.head, rAggs.tail: _*)
          .select(keys.map(k => col(k).as(s"__rk_$k")) ++
            (Seq(col("r_min"), col("r_max")) ++
              (if (hasHll) Seq(col("r_hll")) else Seq.empty)): _*)
        withFlag.join(recomputed,
            keys.map(k => col(k) <=> col(s"__rk_$k")).reduce(_ && _),
            "left_outer")
          .select(keys.map(col) ++ Seq(col("mv_count"), col("mv_sum"),
            col("mv_nncount"),
            when(col("__recomp"), col("r_min")).otherwise(col("f_min"))
              .as("mv_min"),
            when(col("__recomp"), col("r_max")).otherwise(col("f_max"))
              .as("mv_max")) ++
            (if (hasHll)
              Seq(when(col("__hllrecomp"), col("r_hll")).otherwise(col("f_hll"))
                .as("mv_hll"))
            else Seq.empty): _*)
          .filter(col("mv_count") > 0)
      }
    merged.writeTo(s"$catalog.`$name`")
      .option("txnAppId", "mview").option("txnVersion", to.toString)
      .overwrite(lit(true))
    (from, to)
    } finally { if (hasMinMax) { delta.unpersist(); () } }
  }

  /** FULL non-incremental recompute of a materialized view — the sound
    * FOLD-MODE RE-UPGRADE path. [[refreshMview]]'s `mview.foldmode` stamp
    * can only ever AND-weaken (one LEGACY fold may wrap a stored sum, and no
    * later ANSI fold can detect it), so a view once stamped 'legacy' never
    * serves ANSI-mode sum/avg again through refreshes alone. A full
    * recompute REPLACES every stored value with one computed under the
    * SESSION's eval mode, so re-stamping to that mode is sound by
    * construction: an ANSI recompute that commits proves every mv_sum exact
    * (it would have raised ARITHMETIC_OVERFLOW instead of committing).
    *
    * Two commits, crash-safe in this order: the overwrite (carrying the new
    * state and the new fold floor via the B180 txn ledger) lands FIRST, the
    * stamp second — a crash between them leaves a correctly-recomputed view
    * still stamped 'legacy', merely conservative (re-run the recompute to
    * finish the upgrade). The stamp commit re-checks the fold floor inside
    * the publish: if a concurrent fold advanced the view past this
    * recompute's target generation, the upgrade is ABANDONED (that fold ran
    * under unknown mode on newer commits — stamping 'ansi' over it would be
    * exactly the unsoundness the stamp exists to prevent).
    *
    * Returns the source generation the view now reflects. */
  def recomputeMview(spark: SparkSession, catalog: String, root: String,
                     name: String): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    val dir = new Path(root, name)
    val conf = spark.sessionState.newHadoopConf()
    val m = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    val source = m.props.getOrElse("mview.source", throw new IllegalArgumentException(
      s"$name is not a materialized view (no mview.source property)"))
    val keys = m.props("mview.keys").split(',').toSeq
    val sumCol = m.props("mview.sum")
    val to = GraftManifest.currentGen(new Path(root, source), conf)
    val floor = mviewFoldFloor(m)
    require(to >= floor,
      s"source $source is at generation $to, below the view's fold floor " +
        s"$floor (RESTORE ran backwards) — rebuild the view")
    val snap = spark.sql(s"SELECT * FROM $catalog.`$source` VERSION AS OF $to")
    // Same declaration-vs-schema drift guard as refreshMview: a renamed or
    // dropped declared column is not recomputable — name the remedy.
    locally {
      val srcCols = snap.schema.fieldNames.map(_.toLowerCase).toSet
      val missing = (keys :+ sumCol).filterNot(c => srcCols(c.toLowerCase))
      require(missing.isEmpty,
        s"view $name declares ${missing.mkString(", ")} over source $source, " +
          "but the source no longer has that column (renamed or dropped " +
          "since the view was created) — drop and recreate the view against " +
          "the current schema, or rename the column back")
    }
    val hasHll = m.schema.fieldNames.exists(_.equalsIgnoreCase("mv_hll"))
    val recompAggs = Seq(count(lit(1)).as("mv_count"),
      sum(col(sumCol)).cast("long").as("mv_sum"),
      count(col(sumCol)).as("mv_nncount"),
      min(col(sumCol)).as("mv_min"), max(col(sumCol)).as("mv_max")) ++
      (if (hasHll)
        Seq(org.apache.spark.sql.functions
          .hll_sketch_agg(col(sumCol).cast("long")).as("mv_hll"))
      else Seq.empty)
    val recomputed = snap.groupBy(keys.map(col): _*)
      .agg(recompAggs.head, recompAggs.tail: _*)
    // The overwrite must NEVER be skippable as an idempotent replay: when a
    // past refresh already claimed `mview:<to>` (floor == to — the common
    // re-stamp case, nothing new to fold), a ledger-riding write would no-op
    // and the stamp below would then bless values the recompute never
    // replaced — the exact unsoundness this op exists to prevent. So the
    // ledger claim rides only when it ADVANCES the floor (floor < to ⟹
    // `to` unclaimed); at floor == to a plain overwrite replaces the values
    // and the floor is already right.
    val w = recomputed.writeTo(s"$catalog.`$name`")
    GraftCommitOutcome.reset()
    (if (floor < to)
       w.option("txnAppId", "mview").option("txnVersion", to.toString)
     else w)
      .overwrite(lit(true))
    // The stamp is sound only over values THIS writer published. When the
    // ledger-riding overwrite (floor < to) races a concurrent refresh
    // folding to the same `to`, the refresh claims `mview:<to>` first and
    // OUR overwrite is absorbed as an idempotent replay — the stored values
    // are the fold's, computed under a mode this recompute cannot vouch
    // for, and the floor guard below would NOT catch it (floorNow == to).
    // The commit path reports the outcome: absorbed ⟹ abandon the upgrade
    // (the view is correct, merely still conservatively stamped — re-run).
    if (GraftCommitOutcome.lastPublished.contains(false)) return to
    val mode = if (spark.sessionState.conf.ansiEnabled) "ansi" else "legacy"
    // The recompute read the full snapshot under THIS session's effective
    // policy regime — re-stamp it alongside the fold mode (the remedy the
    // refresh-time regime gate points at).
    val newRegime = GraftPolicies.regime(
      GraftManifest.load(new Path(root, source), to, conf).props, spark)
    GraftManifest.publishNext(dir, conf) { cur =>
      // Abandon the re-stamp if a concurrent fold advanced past `to`: its
      // arithmetic ran under a mode this recompute cannot vouch for. Equal
      // floor = the recompute's own overwrite is the newest fold — stamp.
      val floorNow = mviewFoldFloor(cur)
      val p = if (floorNow == to)
        cur.props + ("mview.foldmode" -> mode) + ("mview.policy" -> newRegime)
      else cur.props
      cur.copy(gen = cur.gen + 1, props = p)
    }
    to
  }

  /**
   * CONTINUOUS materialized-view maintenance (the Delta Live Tables /
   * Materialize posture, composing B170's streaming change feed with B198's
   * incremental refresh): subscribe to the SOURCE's `$changes` stream and
   * fold on every micro-batch — the view tracks the source with per-commit
   * latency and ZERO manual refresh calls. The batch content itself is only
   * the TRIGGER: each fold re-reads the feed from the view's own floor
   * (refreshMview), so exactly-once needs no foreachBatch bookkeeping — a
   * replayed or overlapping batch folds an empty range and publishes
   * nothing (the B180 ledger), and a batch that observed commits g..h while
   * the floor was already past them is a no-op. Trigger.AvailableNow gives
   * the catch-up shape (drain the backlog, fold, stop); a processing-time
   * trigger gives the steady-state tail. Caller owns the checkpoint dir and
   * the returned query's lifecycle. The source must stream its DML surface:
   * a copy-on-write rewrite cannot ride a streaming feed (the `$changes`
   * source refuses it loudly) — declare `dml=dv` on sources that take
   * row-level DML, or drive batch refreshes instead.
   */
  def continuousMviewMaintenance(spark: SparkSession, catalog: String,
      root: String, name: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger): org.apache.spark.sql.streaming.StreamingQuery = {
    val dir = new Path(root, name)
    val conf = spark.sessionState.newHadoopConf()
    val m = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    val source = m.props.getOrElse("mview.source", throw new IllegalArgumentException(
      s"$name is not a materialized view (no mview.source property)"))
    spark.readStream.table(s"$catalog.`$source$$changes`")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        refreshMview(spark, catalog, root, name); ()
      }
      .trigger(trigger)
      .start()
  }

  /**
   * OPTIMIZE ZORDER (B175, the Delta `OPTIMIZE ... ZORDER BY (x, y)` op): a
   * maintenance rewrite that MORTON-clusters the live snapshot on two
   * columns — each rewritten file owns a quadtree tile of (x, y) space, so
   * B150's min/max skipping prunes scans filtering on EITHER column (a table
   * range-clustered on one key prunes that key only; z-order is how a second
   * frequent filter column gets file-level pruning without a second copy).
   * The Morton key is layout-only: computed, range-partitioned + sorted on,
   * then dropped before the write — schema unchanged, content unchanged, one
   * dynamic-overwrite commit (old generations stay time-travel readable).
   * Requires an unpartitioned, non-`cluster`ed table: both would impose their
   * own write distribution over the z-layout and silently undo it — refuse
   * loudly instead.
   */
  def optimizeZorder(spark: SparkSession, tableRef: String, root: String,
                     table: String, xCol: String, yCol: String,
                     numFiles: Int, curve: String = "morton"): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    def snap() = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    val before = snap()
    require(!GraftPolicies.active(before, spark),
      s"OPTIMIZE ZORDER on $table requires a policy-exempt role — the " +
        "rewrite read would otherwise persist masked values")
    require(!before.props.contains("cluster"),
      "OPTIMIZE ZORDER refuses a `cluster`ed table — the clustering contract " +
        "(near-disjoint single-column file ranges) and the z-layout are " +
        "mutually exclusive on the same table copy")
    require(!before.partCols.contains(xCol) && !before.partCols.contains(yCol),
      "ZORDER columns must be data columns — a partition column already " +
        "prunes at partition granularity")
    require(!before.partCols.exists(GraftTransforms.isTransform),
      "OPTIMIZE ZORDER refuses a transform-partitioned table (bucket/days/" +
        "truncate) — the derived-directory distribution and the z-layout " +
        "are mutually exclusive on one copy")
    // PARTITIONED tables Morton-cluster WITHIN each partition (the Delta
    // `OPTIMIZE ... ZORDER BY` semantics): range-partition over
    // (partition cols, zkey) keeps partition values contiguous while carving
    // each partition into zkey tiles, and the `layout=managed` write option
    // keeps the table's own hash-on-partition-key distribution from undoing
    // that shape (writers key files by partition VALUE, so a partition spread
    // across tasks commits one tile file per task — exactly the layout).
    val rangeCols = before.partCols.map(col) :+ col("__zkey")
    // `curve`: morton (B52's shift/mask ladder) or hilbert (B194's native
    // loop expression — no diagonal jumps, tighter tiles per key range).
    val key = curve match {
      case "morton"  => graft.operators.Layout.zorderKey(col(xCol), col(yCol))
      case "hilbert" => graft.plans.LayoutExpressions.hilbertKey(col(xCol), col(yCol))
      case other => throw new IllegalArgumentException(
        s"unknown space-filling curve '$other' — morton | hilbert")
    }
    val shaped = spark.table(tableRef)
      .withColumn("__zkey", key)
      .repartitionByRange(numFiles, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .drop("__zkey")
    // Spec-evolved tables (B232) rewrite the whole snapshot (truncate mode):
    // dynamic overwrite replaces by partition PATH and cannot see
    // pre-evolution files — same posture as full OPTIMIZE, and the z-layout
    // rewrite doubles as the layout migration.
    if (before.specUniform)
      shaped.writeTo(tableRef).option("layout", "managed").overwritePartitions()
    else
      shaped.writeTo(tableRef).option("layout", "managed")
        .overwrite(org.apache.spark.sql.functions.lit(true))
    // Stamp the clustered layout (cols + curve + the generation whose entry
    // list IS the clustered tiling) so INCREMENTAL maintenance can later
    // diff "files added since" against "tiles laid down here" —
    // [[optimizeZorderIncremental]]. One extra metadata-only commit. The
    // stamped generation is READ BACK right after the rewrite commit, NOT
    // derived from whatever manifest is current at stamp time: a concurrent
    // append landing between the rewrite and the stamp would otherwise put
    // ITS files inside the stamped entry list and they would be permanently
    // classified as clustered tiles (never re-clustered by later increments
    // — silent layout decay, though results stay correct). A commit racing
    // into the tiny read-back window is detected and logged: its files are
    // visible at rwGen but absent from the pre-rewrite snapshot's successor.
    val rwGen = GraftManifest.currentGen(dir, conf)
    if (rwGen != before.gen + 1)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"OPTIMIZE ZORDER on $table stamped generation $rwGen but the " +
          s"pre-rewrite snapshot was ${before.gen} — a concurrent commit " +
          "interleaved; files it added may be misclassified as clustered " +
          "tiles until the next full rewrite")
    GraftManifest.publishNext(dir, conf) { cur =>
      cur.copy(gen = cur.gen + 1, props = cur.props ++ Map(
        "zorder.cols" -> s"$xCol,$yCol", "zorder.curve" -> curve,
        "zorder.gen" -> rwGen.toString))
    }
    (before.entries.size.toLong,
      GraftManifest.load(dir, rwGen, conf).entries.size.toLong)
  }

  /**
   * INCREMENTAL ZORDER (the liquid-clustering maintenance follow-through on
   * B175/B183/B194): after appends land on a z-ordered table, re-cluster
   * ONLY the new files plus the existing tiles whose (x, y) bounding box
   * OVERLAPS them — every other tile rides the manifest forward untouched
   * (same file, same bytes). Localized ingest (the common shape: recent
   * dates, one tenant, one region) therefore re-clusters a corner of the
   * space, not the table — at 100 TB this is the difference between a
   * nightly maintenance job and a full rewrite. Composition of the B182
   * targeted-replace machinery (read the target set `_file`-pruned, rewrite,
   * swap exactly those files in one commit) with the stamped layout
   * ([[optimizeZorder]]'s zorder.* props): new files = manifest entries not
   * in the stamped generation's list; overlap = numeric min/max bbox
   * intersection from the manifest file stats (missing stats → conservative
   * rewrite). The rewritten region is range-partitioned and sorted on the
   * SAME curve key, and the stamp re-publishes so maintenance composes
   * (next increment diffs against this one). PARTITIONED tables (identity
   * partitioning, the same set the full rewrite tiles within partitions)
   * scope the overlap test per partition — a tile is touched only by new
   * files in ITS OWN partition (partition identity = the entry's directory;
   * identity layouts encode partition values as directories) — and the
   * rewrite range-partitions over (partition cols, curve key) under the
   * `layout=managed` option, exactly like the full within-partition
   * rewrite, so the table's hash-on-partition-value write distribution
   * cannot undo the tile shape. Transform-partitioned tables refuse, as
   * the full rewrite does.
   *
   * Returns (rewrittenFiles, carriedFiles).
   */
  def optimizeZorderIncremental(spark: SparkSession, tableRef: String,
      root: String, table: String, numFiles: Int = 4): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    def snap() = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    val m = snap()
    require(!GraftPolicies.active(m, spark),
      s"incremental ZORDER on $table requires a policy-exempt role")
    val zg = m.props.getOrElse("zorder.gen", throw new IllegalArgumentException(
      s"$table has no stamped z-order layout — run a full OPTIMIZE ZORDER " +
        "(CALL …system.zorder) first; incremental maintenance extends a " +
        "stamped layout, it cannot invent one")).toLong
    val Array(xCol, yCol) = m.props("zorder.cols").split(',').map(_.trim)
    val curve = m.props.getOrElse("zorder.curve", "morton")
    require(!m.partCols.exists(GraftTransforms.isTransform),
      "incremental ZORDER refuses a transform-partitioned table — the " +
        "derived-directory distribution and the z-layout are mutually " +
        "exclusive on one copy (the full rewrite refuses it too)")
    val oldEntries = GraftManifest.load(dir, zg, conf).entries.map(_._2).toSet
    val current = m.entries.map(_._2)
    val newFiles = current.filterNot(oldEntries.contains)
    val tiles = current.filter(oldEntries.contains)
    if (newFiles.isEmpty) return (0L, current.size.toLong)
    // Numeric (x, y) bbox per file from the manifest stats; a missing or
    // unparsable bound is treated as unbounded — conservative rewrite.
    val px = m.physicalName(xCol); val py = m.physicalName(yCol)
    def bbox(rel: String): Option[(BigDecimal, BigDecimal, BigDecimal, BigDecimal)] =
      m.fileStats.get(rel).flatMap { st =>
        val p = GraftFileStats.parse(st)
        def rng(c: String): Option[(BigDecimal, BigDecimal)] = p.get(c).flatMap {
          case (_, Some(mn), Some(mx)) =>
            try Some((BigDecimal(mn), BigDecimal(mx)))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
        for { (x0, x1) <- rng(px); (y0, y1) <- rng(py) } yield (x0, x1, y0, y1)
      }
    // Partition identity = the entry's partition-directory CHAIN — the rel
    // path minus its leading per-commit `gen-*` component and the file name
    // (every write lands under a fresh gen dir, so the raw directory would
    // NEVER match across commits and no tile would ever be touched; the
    // partition chain is what's stable). Empty for unpartitioned tables, so
    // they keep the global matching the stamped layout had all along.
    def partOf(rel: String): String = {
      val parts = rel.split('/')
      if (parts.length < 2) "" else parts.drop(1).dropRight(1).mkString("/")
    }
    def overlaps(a: (BigDecimal, BigDecimal, BigDecimal, BigDecimal),
                 b: (BigDecimal, BigDecimal, BigDecimal, BigDecimal)): Boolean =
      a._1 <= b._2 && b._1 <= a._2 && a._3 <= b._4 && b._3 <= a._4
    val newByPart: Map[String, Seq[Option[(BigDecimal, BigDecimal, BigDecimal, BigDecimal)]]] =
      newFiles.groupBy(partOf).map { case (p, fs) => p -> fs.map(bbox) }
    val touchedTiles = tiles.filter { rel =>
      newByPart.get(partOf(rel)).exists { partNew =>
        partNew.exists(_.isEmpty) || (bbox(rel) match {
          case Some(tb) => partNew.flatten.exists(nb => overlaps(tb, nb))
          case None => true
        })
      }
    }
    val targets = (newFiles ++ touchedTiles).distinct
    val key = curve match {
      case "hilbert" => graft.plans.LayoutExpressions.hilbertKey(col(xCol), col(yCol))
      case _         => graft.operators.Layout.zorderKey(col(xCol), col(yCol))
    }
    // Partitioned: range over (partition cols, zkey) under layout=managed —
    // the full within-partition rewrite's exact distribution discipline.
    val rangeCols = m.partCols.map(col) :+ col("__zkey")
    val shaped = spark.table(tableRef).select(col("*"), col("_file"))
      .where(col("_file").isin(targets: _*)).drop("_file")
      .withColumn("__zkey", key)
      .repartitionByRange(numFiles, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .drop("__zkey")
    val w0 = shaped.writeTo(tableRef).option("replaceFiles", targets.mkString("\n"))
    (if (m.partCols.nonEmpty) w0.option("layout", "managed") else w0)
      .append()
    // Re-stamp: the NEXT increment diffs against this layout. Same read-back
    // discipline as the full rewrite's stamp — the stamped generation is the
    // one the targeted-replace commit produced, so a concurrent append
    // landing before the stamp commit cannot smuggle its files into the
    // stamped tiling (they stay "new" for the next increment).
    val rwGen = GraftManifest.currentGen(dir, conf)
    if (rwGen != m.gen + 1)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"incremental ZORDER on $table stamped generation $rwGen but the " +
          s"pre-rewrite snapshot was ${m.gen} — a concurrent commit " +
          "interleaved; files it added may be misclassified as clustered " +
          "tiles until the next increment observes them")
    GraftManifest.publishNext(dir, conf) { cur =>
      cur.copy(gen = cur.gen + 1,
        props = cur.props + ("zorder.gen" -> rwGen.toString))
    }
    (targets.size.toLong, (current.size - targets.size).toLong)
  }

  /** Files of the CURRENT snapshot a data predicate provably excludes, by the
    * library's own stats evaluator — the audit twin of B150's scan-side
    * skipping, for maintenance-op proofs. */
  def filesSkippedBy(spark: SparkSession, root: String, table: String,
                     filters: Array[Filter]): (Long, Long) = {
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    val m = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    val phys = if (m.colMap.isEmpty) filters
      else filters.map(GraftScanBuilder.renameFilter(_, m.physicalName))
    val skipped = m.entries.count { case (_, rel) =>
      !GraftFileStats.mayMatch(m.fileStats.get(rel), phys,
        m.physicalize(m.dataSchema))
    }
    (skipped.toLong, m.entries.size.toLong)
  }

  /**
   * RESTORE (B174, Delta RESTORE semantics): roll the table back to an
   * earlier generation by publishing a NEW generation carrying that
   * snapshot's exact content — entries, schema, properties, and deletion
   * vectors. Metadata-only: no data file moves (the restored manifest's
   * files are still live — VACUUM's liveness rule keeps every retained
   * manifest's entries on disk, and restore targets must still have their
   * manifest). History is preserved: the rolled-back generations stay
   * time-travel readable, and the operation itself appears as one commit.
   * The CURRENT txn ledger is carried forward (not the target's old one) so
   * a restarted streaming sink still recognizes every epoch it already
   * published — restore rewinds CONTENT, never exactly-once bookkeeping.
   * Returns the new generation number.
   */
  /** PARTITION SPEC EVOLUTION (B232, the Iceberg partition-evolution design):
    * change the table's partition spec for FUTURE writes in ONE metadata-only
    * commit — zero rewrites. Existing files keep their physical layout and
    * are read through their OWN spec (each file's partition path names the
    * columns stripped from it; see [[GraftManifest.specUniform]]); new
    * writes, and any rewriting operation (OPTIMIZE, copy-on-write DML),
    * produce files under the new spec — compaction therefore migrates the
    * layout incrementally, exactly the Iceberg posture. `cols` empty =
    * unpartitioned. Declared columns must exist, be distinct, and carry a
    * directory-codec type (the same set the writer's path codec and
    * [[GraftScanBuilder.matches]]'s typed decode support). */
  def setPartitionSpec(spark: SparkSession, root: String, table: String,
                       cols: Seq[String]): Long = {
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    GraftManifest.publishNext(dir, conf) { current =>
      require(cols.distinct.size == cols.size,
        s"duplicate partition columns: ${cols.mkString(", ")}")
      cols.foreach { c =>
        if (GraftTransforms.transformOf(c).isEmpty)
          require(current.schema.fieldNames.contains(c),
            s"partition column $c is not in the table schema")
        GraftTransforms.validate(c, current.schema)
      }
      // Mask-vs-path exclusion (B233): evolving the spec onto a masked column
      // (or a transform whose SOURCE is masked) would bake raw values into
      // directory names — readable by non-exempt sessions via `_file`/$files,
      // and pruned on RAW values with no re-check once the layout is uniform.
      // CREATE and ALTER both enforce this; the evolution path must too.
      (cols.toSet ++ GraftTransforms.sources(cols)).foreach { c =>
        require(!current.props.contains(GraftPolicies.MaskPrefix + c),
          s"cannot evolve the partition spec onto masked column $c — raw " +
            "values would bake into directory names")
      }
      require(cols != current.partCols,
        s"table is already partitioned by (${cols.mkString(", ")})")
      current.copy(gen = current.gen + 1, partCols = cols)
    }.gen
  }

  def restore(spark: SparkSession, root: String, table: String,
              version: Long): Long = {
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    val cur = GraftManifest.currentGen(dir, conf)
    require(version >= 0 && version < cur,
      s"RESTORE needs an earlier committed generation: table is at $cur, got $version")
    require(dir.getFileSystem(conf).exists(new Path(dir, s"manifest-$version.txt")),
      s"generation $version was reclaimed by VACUUM — cannot restore past the horizon")
    val target = GraftManifest.load(dir, version, conf)
    GraftManifest.publishNext(dir, conf)(current =>
      target.copy(gen = current.gen + 1, txns = target.txns ++ current.txns)).gen
  }

  /** Generation history of a table (DESCRIBE HISTORY analogue): one row per
    * committed manifest, driver-side metadata reads only — the row count is
    * the number of commits, never data-scale. */
  def history(spark: SparkSession, root: String, table: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dir = new Path(root, table)
    val conf = spark.sessionState.newHadoopConf()
    // ONE generation-walk definition: this surface and the `t$history`
    // metadata twin must agree row for row, so both read
    // [[GraftMetaTable.rowsOf]] (VACUUM gaps skipped there, same posture).
    GraftMetaTable.rowsOf("history", dir, conf).map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("gen", "n_files", "n_partitions", "n_txns")
  }
}

/**
 * CALL-procedure registry (B193, the Iceberg `CALL catalog.system.proc(...)`
 * surface via Spark 4's ProcedureCatalog): every driver-side maintenance
 * operation — vacuum, optimize, zorder, restore, clone, tag/untag — is
 * reachable from pure SQL with named arguments and defaults, so an operator
 * (or an orchestrator with only a SQL gateway) never needs library code on
 * the classpath. Each procedure runs its [[GraftCatalogOps]] twin on the
 * driver and returns a one-row summary as a [[GraftLocalAggScan]] (a
 * LocalScan: zero tasks), which `CALL` surfaces as the statement's result
 * set. Procedures are non-deterministic by declaration (they mutate tables);
 * argument binding, coercion, and named-vs-positional matching are Spark's.
 */
object GraftProcedures {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType}

  private def in(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()
  private def inDef(name: String, dt: DataType, default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()
  private def out(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, dt) =>
      org.apache.spark.sql.types.StructField(n, dt, nullable = false) })

  private case class ProcDef(name: String, description: String,
      params: Seq[ProcedureParameter], outSchema: StructType,
      run: (SparkSession, String, String, InternalRow) => Seq[Any],
      // Multi-row procedures (e.g. diagnostics) return whole row sets;
      // when set, `run` is ignored.
      runRows: Option[(SparkSession, String, String, InternalRow) => Seq[Seq[Any]]] = None)

  private def ref(cat: String, t: String) = s"$cat.`$t`"

  private val defs: Seq[ProcDef] = Seq(
    ProcDef("vacuum",
      "reclaim files unreferenced by the retained manifests (leases + tags " +
        "honored); dry_run audits without deleting",
      Seq(in("table", StringType), inDef("keep_gens", IntegerType, "1"),
        inDef("grace_ms", LongType, GraftCatalogOps.DefaultUncommittedGraceMs.toString),
        inDef("dry_run", org.apache.spark.sql.types.BooleanType, "false")),
      out("files_deleted" -> LongType, "manifests_deleted" -> LongType),
      (s, _, root, a) => {
        val (f, m) = GraftCatalogOps.vacuum(s, root, a.getUTF8String(0).toString,
          keepGens = a.getInt(1), uncommittedGraceMs = a.getLong(2),
          dryRun = a.getBoolean(3))
        Seq(f, m)
      }),
    ProcDef("optimize",
      "compact the live snapshot; min_deleted_ratio > 0 targets DV-heavy " +
        "files only; where narrows to files the predicate may touch",
      Seq(in("table", StringType), inDef("min_deleted_ratio", DoubleType, "0.0"),
        inDef("where", StringType, "''")),
      out("files_before" -> LongType, "dvs_before" -> LongType,
        "files_after" -> LongType, "dvs_after" -> LongType),
      (s, cat, root, a) => {
        val t = a.getUTF8String(0).toString
        val (fb, db, fa, da) = GraftCatalogOps.optimize(s, ref(cat, t), root, t,
          a.getDouble(1), a.getUTF8String(2).toString)
        Seq(fb, db, fa, da)
      }),
    ProcDef("zorder",
      "space-filling-curve-cluster the live snapshot on two columns " +
        "(within partitions when partitioned); curve = morton | hilbert",
      Seq(in("table", StringType), in("col_x", StringType), in("col_y", StringType),
        inDef("num_files", IntegerType, "8"),
        inDef("curve", StringType, "'morton'")),
      out("files_before" -> LongType, "files_after" -> LongType),
      (s, cat, root, a) => {
        val t = a.getUTF8String(0).toString
        val (fb, fa) = GraftCatalogOps.optimizeZorder(s, ref(cat, t), root, t,
          a.getUTF8String(1).toString, a.getUTF8String(2).toString, a.getInt(3),
          a.getUTF8String(4).toString)
        Seq(fb, fa)
      }),
    ProcDef("zorder_incr",
      "incrementally re-cluster a stamped z-ordered table: rewrite only " +
        "files added since the stamp plus the tiles they overlap",
      Seq(in("table", StringType), inDef("num_files", IntegerType, "4")),
      out("files_rewritten" -> LongType, "files_carried" -> LongType),
      (s, cat, root, a) => {
        val t = a.getUTF8String(0).toString
        val (rw, kept) = GraftCatalogOps.optimizeZorderIncremental(
          s, ref(cat, t), root, t, a.getInt(1))
        Seq(rw, kept)
      }),
    ProcDef("restore",
      "roll the table back to an earlier generation as one metadata-only commit",
      Seq(in("table", StringType), in("version", LongType)),
      out("restored_to_generation" -> LongType),
      (s, _, root, a) => Seq(GraftCatalogOps.restore(s, root,
        a.getUTF8String(0).toString, a.getLong(1))),
    ),
    ProcDef("set_partition_spec",
      "change the partition spec for FUTURE writes as one metadata-only " +
        "commit; existing files keep their layout and are read through " +
        "their own spec (Iceberg partition evolution); cols is " +
        "comma-separated, '' = unpartitioned",
      Seq(in("table", StringType), in("cols", StringType)),
      out("generation" -> LongType),
      (s, _, root, a) => Seq(GraftCatalogOps.setPartitionSpec(s, root,
        a.getUTF8String(0).toString,
        GraftTransforms.splitSpec(a.getUTF8String(1).toString)))),
    ProcDef("clone",
      "shallow-clone the source's current snapshot as a metadata-only new table",
      Seq(in("source", StringType), in("target", StringType)),
      out("clone_generation" -> LongType),
      (s, _, root, a) => Seq(GraftCatalogOps.cloneTable(s, root,
        a.getUTF8String(0).toString, a.getUTF8String(1).toString)),
    ),
    ProcDef("tag",
      "pin a generation under a durable name (vacuum-exempt; VERSION AS OF '<name>')",
      Seq(in("table", StringType), in("name", StringType), in("version", LongType)),
      out("tagged" -> BooleanType),
      (s, _, root, a) => {
        GraftCatalogOps.tag(s, root, a.getUTF8String(0).toString,
          a.getUTF8String(1).toString, a.getLong(2))
        Seq(true)
      }),
    ProcDef("untag",
      "release a named snapshot pin; returns whether the tag existed",
      Seq(in("table", StringType), in("name", StringType)),
      out("removed" -> BooleanType),
      (s, _, root, a) => Seq(GraftCatalogOps.untag(s, root,
        a.getUTF8String(0).toString, a.getUTF8String(1).toString)),
    ),
    ProcDef("branch",
      "fork a WAP branch at the current snapshot; write to it via " +
        "option(branch=<name>), audit via VERSION AS OF '<name>'",
      Seq(in("table", StringType), in("name", StringType)),
      out("base_gen" -> LongType),
      (s, _, root, a) => Seq(GraftCatalogOps.createBranch(s, root,
        a.getUTF8String(0).toString, a.getUTF8String(1).toString))),
    ProcDef("fast_forward",
      "publish the audited branch head as main's next generation " +
        "(refuses when main diverged); drops the branch",
      Seq(in("table", StringType), in("name", StringType)),
      out("published_gen" -> LongType),
      (s, _, root, a) => Seq(GraftCatalogOps.fastForward(s, root,
        a.getUTF8String(0).toString, a.getUTF8String(1).toString))),
    ProcDef("drop_branch",
      "abandon a branch lineage; stranded branch files become vacuum fodder",
      Seq(in("table", StringType), in("name", StringType)),
      out("dropped" -> BooleanType),
      (s, _, root, a) => Seq(GraftCatalogOps.dropBranch(s, root,
        a.getUTF8String(0).toString, a.getUTF8String(1).toString))),
    ProcDef("copy_into",
      "exactly-once landing-zone ingestion: load only source files not yet " +
        "in the table's load ledger; format = parquet | csv | json",
      Seq(in("table", StringType), in("path", StringType),
        inDef("format", StringType, "'parquet'")),
      out("files_loaded" -> LongType, "files_skipped" -> LongType),
      (s, cat, root, a) => {
        val (l, k) = GraftCatalogOps.copyInto(s, cat, root,
          a.getUTF8String(0).toString, a.getUTF8String(1).toString,
          a.getUTF8String(2).toString)
        Seq(l, k)
      }),
    ProcDef("create_mview",
      "materialize count/sum grouped by keys over a source table; " +
        "refresh_mview folds only the change feed",
      Seq(in("source", StringType), in("name", StringType),
        in("keys", StringType), in("sum_col", StringType)),
      out("base_gen" -> LongType),
      (s, cat, root, a) => Seq(GraftCatalogOps.createMview(s, cat, root,
        a.getUTF8String(1).toString, a.getUTF8String(0).toString,
        a.getUTF8String(2).toString.split(',').toSeq,
        a.getUTF8String(3).toString))),
    ProcDef("refresh_mview",
      "fold the source change feed since the last fold; idempotent, " +
        "delta-proportional",
      Seq(in("name", StringType)),
      out("from_gen" -> LongType, "to_gen" -> LongType),
      (s, cat, root, a) => {
        val (f, t) = GraftCatalogOps.refreshMview(s, cat, root,
          a.getUTF8String(0).toString)
        Seq(f, t)
      }),
    ProcDef("recompute_mview",
      "full non-incremental recompute under the session's eval mode — the " +
        "sound way to re-stamp a legacy-folded view 'ansi' (run under " +
        "spark.sql.ansi.enabled=true); source-proportional",
      Seq(in("name", StringType)),
      out("recomputed_to_gen" -> LongType),
      (s, cat, root, a) => Seq(GraftCatalogOps.recomputeMview(s, cat, root,
        a.getUTF8String(0).toString))),
    // The near-miss diagnostics rings, SQL-reachable (the "why didn't my
    // view serve / my join eliminate" question, answerable over a SQL-only
    // connection — the JVM-side `RelyDiagnostics.recent` twins). Notes are
    // process-wide by design, like driver logs; a FIRED rewrite leaves none.
    ProcDef("diagnostics",
      "recent optimizer near-miss notes — why a QUALIFYING rewrite did not " +
        "fire (RELY join elimination, mview rewrite); ring = rely | mview " +
        "| all; clear => true drops the returned ring(s) after reading",
      Seq(inDef("ring", StringType, "'all'"),
        inDef("clear", BooleanType, "false")),
      out("ring" -> StringType, "note" -> StringType),
      (_, _, _, _) => Seq.empty,
      runRows = Some((_, _, _, a) => {
        import org.apache.spark.unsafe.types.UTF8String
        val which = a.getUTF8String(0).toString.toLowerCase
        require(Set("all", "rely", "mview")(which),
          s"ring must be rely | mview | all, got '$which'")
        val rings = Seq(
          "rely" -> graft.plans.RelyDiagnostics,
          "mview" -> graft.plans.MviewDiagnostics)
          .filter { case (n, _) => which == "all" || which == n }
        val rows = rings.flatMap { case (n, ring) =>
          ring.recent.map(note => Seq[Any](
            UTF8String.fromString(n), UTF8String.fromString(note)))
        }
        if (a.getBoolean(1)) rings.foreach(_._2.clear())
        rows
      })))

  def names: Seq[String] = defs.map(_.name)

  def load(procName: String, catName: String, root: String): UnboundProcedure = {
    val d = defs.find(_.name == procName).getOrElse(throw new NoSuchTableException(
      Identifier.of(Array("system"), procName)) {
      override def getMessage: String =
        s"unknown procedure $procName — known: ${names.mkString(", ")}"
    })
    new UnboundProcedure {
      override def name(): String = d.name
      override def description(): String = d.description
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = d.name
        override def description(): String = d.description
        override def parameters(): Array[ProcedureParameter] = d.params.toArray
        override def isDeterministic(): Boolean = false
        override def call(input: InternalRow)
            : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
          val rows: Array[InternalRow] = d.runRows match {
            case Some(rr) => rr(SparkSession.active, catName, root, input)
              .map(InternalRow.fromSeq).toArray
            case None => Array(InternalRow.fromSeq(
              d.run(SparkSession.active, catName, root, input)))
          }
          java.util.Collections.singletonList[org.apache.spark.sql.connector.read.Scan](
            new GraftLocalAggScan(d.outSchema, rows,
              s"CALL $catName.system.${d.name}")).iterator()
        }
      }
    }
  }
}
