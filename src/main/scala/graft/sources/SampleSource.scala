package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.sources._

/**
 * Sample-table DataSource (the reference registers `SampleDataSourceAPI` /
 * `SnappyContext.SAMPLE_SOURCE` so `df.write.format(...)` creates a sample —
 * `SamplingDataSourceAPITest.scala:94-150`):
 *
 * {{{
 *   df.write.format("graft-sample")
 *     .option("qcs", "carrier").option("fraction", "0.03")
 *     .option("path", dir).mode(SaveMode.Overwrite).save()
 *   val sample = spark.read.format("graft-sample").option("path", dir).load()
 * }}}
 *
 * The write path samples the batch through the shared option engine
 * (qcs / fraction / strataReservoirSize / seed / timeSeriesColumn /
 * errorLimit*) and persists sampled rows + weight column as plain parquet,
 * with the registry metadata file alongside — so the result is also
 * re-attachable via `GraftSession.attachSampleTable` and recognized as a
 * sample by its weight column (AQP-211) when read back raw.
 *
 * The read path resolves the actual parquet relation (full filter pushdown
 * and column pruning — never a degraded `TableScan`).
 */
class SampleSource extends CreatableRelationProvider with RelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-sample"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-sample needs .option(\"path\", dir) — path-based save/load only"))

  /** True when a stored qcs entry is the time-slot bucket expression the
   * option engine derives from `timeSeriesColumn` (one of the four
   * templates in [[graft.GraftSession.sampleByOptions]]) — the entry the
   * combined-qcs comparison for a meta without declared options must
   * ignore, since the user never declared it. */
  private def isDerivedTimeSlot(entry: String, tsCol: String): Boolean = {
    val e = entry.toLowerCase.replaceAll("\\s", "")
    val ts = java.util.regex.Pattern.quote(tsCol.toLowerCase)
    e.matches(s"\\(${ts}div\\d+\\)") ||
    e.matches(s"floor\\($ts/\\d+(\\.\\d+)?\\)") ||
    e.matches(s"floor\\($ts\\*1000/\\d+(\\.\\d+)?\\)") ||
    e.matches(s"floor\\(cast\\(${ts}asdouble\\)\\*1000/\\d+(\\.\\d+)?\\)")
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val exists = fsPath.getFileSystem(hadoopConf).exists(fsPath)
    if (exists && mode == SaveMode.ErrorIfExists) {
      throw new IllegalArgumentException(
        s"path $path already exists (mode ErrorIfExists)")
    }
    if (!(exists && mode == SaveMode.Ignore)) {
      // Append re-samples the incoming batch per stratum, the same semantic
      // as INSERT INTO a sample table: each batch's weights encode that
      // batch's stratum totals. On append over an EXISTING sample the stored
      // stratification governs: silently re-sampling under different options
      // would mix schemes within one table and leave meta misdescribing the
      // earlier rows — omitted options inherit the stored values, and
      // explicitly conflicting ones fail fast.
      val appending = mode == SaveMode.Append && exists
      val storedMeta =
        if (appending) graft.GraftSession.readSampleMeta(path, hadoopConf)
        else None
      val declaredLower = parameters.map { case (k, v) => k.toLowerCase -> v }
      // declared options of the ORIGINAL write (pre time-slot derivation) —
      // appends validate what the user restates against what the user
      // originally typed, and inherit everything omitted
      val storedDeclared =
        if (appending)
          graft.GraftSession.readSampleDeclaredOpts(path, hadoopConf)
        else Map.empty[String, String]
      val effective =
        storedMeta match {
          case None => parameters
          case Some((_, storedQcs, storedFraction, storedReservoir)) =>
            if (storedDeclared.nonEmpty) {
              // stratification options must not drift between batches
              Seq("qcs", "fraction", "stratareservoirsize", "seed",
                "timeseriescolumn", "timeinterval", "timeunit",
                "errorlimitcolumn", "errorlimitpercent", "confidence")
                .foreach { k =>
                  (declaredLower.get(k), storedDeclared.get(k)) match {
                    case (Some(d), Some(s)) =>
                      require(d.trim.equalsIgnoreCase(s.trim),
                        s"append to $path declares $k '$d' but the existing " +
                          s"sample was created with '$s' — drop the option " +
                          "to inherit, or rewrite with mode Overwrite")
                    case (Some(d), None) =>
                      throw new IllegalArgumentException(
                        s"append to $path declares $k '$d' but the existing " +
                          s"sample was created without it — drop the option " +
                          "to inherit, or rewrite with mode Overwrite")
                    case _ => // omitted: inherits
                  }
                }
              storedDeclared ++ declaredLower
            } else {
              // pre-`opt.*` meta: fall back to comparing the COMBINED qcs.
              // A time-series sample's stored qcs carries the DERIVED
              // time-slot expression the user never typed — when the append
              // restates timeSeriesColumn, accept the user-typed qcs with
              // that trailing derived entry stripped (requiring the user to
              // restate an expression the engine synthesized would reject
              // every legitimate restated append)
              declaredLower.get("qcs").foreach { q =>
                // same parser-mode flag sampleByOptions threads: under
                // escapedStringLiterals a backslash-adjacent quote splits
                // differently, and create vs append-validation must agree
                val declared = graft.GraftSession.splitTopLevel(q,
                  sqlContext.sparkSession.sessionState.conf.escapedStringLiterals)
                val storedCore = declaredLower.get("timeseriescolumn") match {
                  case Some(ts) if storedQcs.nonEmpty &&
                      isDerivedTimeSlot(storedQcs.last, ts) => storedQcs.init
                  case _ => storedQcs
                }
                require(declared.map(_.toLowerCase) ==
                  storedQcs.map(_.toLowerCase) ||
                  declared.map(_.toLowerCase) ==
                  storedCore.map(_.toLowerCase),
                  s"append to $path declares qcs '${declared.mkString(", ")}' " +
                    s"but the existing sample was stratified on " +
                    s"'${storedQcs.mkString(", ")}' — drop the option to " +
                    "inherit, or rewrite with mode Overwrite")
              }
              declaredLower.get("fraction").foreach { f =>
                require(f.toDouble == storedFraction,
                  s"append to $path declares fraction $f but the existing " +
                    s"sample used $storedFraction — drop the option to " +
                    "inherit, or rewrite with mode Overwrite")
              }
              declaredLower.get("stratareservoirsize").foreach { r =>
                require(r.toInt == storedReservoir,
                  s"append to $path declares strataReservoirSize $r but the " +
                    s"existing sample used $storedReservoir — drop the option " +
                    "to inherit, or rewrite with mode Overwrite")
              }
              parameters ++ Map(
                "qcs" -> storedQcs.mkString(","),
                "fraction" -> storedFraction.toString,
                "strataReservoirSize" -> storedReservoir.toString)
            }
        }
      val (sampled, qcs, fraction, reservoirSize) =
        graft.GraftSession.sampleByOptions(data, effective)
      if (!appending) sampled.write.mode("overwrite").parquet(path)
      // persist the declared options of the GOVERNING scheme (original on
      // append, this statement's on create/overwrite), minus storage keys.
      // An append to a meta without declared options must NOT add `opt.*`
      // keys from its own (possibly partial) declared set: recording only
      // this append's options as "what the user originally typed" makes a
      // later append restating an original-but-unrecorded option fail with
      // "created without it" — the meta stays option-less until a
      // create/overwrite declares the full governing set
      val governing =
        if (appending && storedDeclared.isEmpty) Map.empty[String, String]
        else (if (appending) storedDeclared
              else declaredLower) -- Seq("path", "basetable")
      // the meta publish runs under the lock with the data publish: it
      // rewrites the latest meta, keeping the stream watermarks of
      // concurrent ForBatch appends
      graft.GraftSession.withPathLock(spark, path) {
        if (appending) {
          // staged publish: fence re-validated AFTER the distributed write,
          // part files land epoch-stamped ([[graft.GraftSession.publishAppend]])
          graft.GraftSession.assertStoreFence(spark, path)
          graft.GraftSession.publishAppend(spark, path, sampled)
        }
        graft.GraftSession.writeSampleMeta(path,
          parameters.getOrElse("baseTable", parameters.getOrElse("basetable",
            storedMeta.map(_._1).getOrElse(""))),
          qcs, fraction, reservoirSize, hadoopConf, governing)
      }
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    DataSource(sqlContext.sparkSession, className = "parquet",
      paths = Seq(pathOf(parameters))).resolveRelation()
}
