package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.IngestCli
import graft.jobs.{AmoDump, AmoWhitelist, GraphIngest, GuidRanking, ProfileEtl, UpdateWhitelist}

/** The etl-cycle workload: the TAAR chain over seeded inputs, then one
  * day-2 operations cycle through `IngestCli` over the benchmark's
  * documents and co-purchase graph, in the DayTwoOpsSpec order: ingest,
  * graph init, append, graph advance, delete, graph retract, compact,
  * snapshot, snapshot verify, fsck. The document family (occ) and the
  * graph carry the cycle; the two embedding-code families are left out to
  * fit the run length. Every pass writes into its own directory and its
  * own table prefix, so passes never see each other's state. */
final class EtlCycle(spark: SparkSession, val inputs: EtlInputs, genDir: String,
    dataDir: String, day2Dir: String) {
  import EtlInputs._
  import spark.implicits._

  private val docs = graft.Tables.documents(spark, dataDir)
  private val isNewDoc = $"doc_id" % 5 === 0
  private val goneDoc = $"doc_id" % 7 === 0

  /** Writes the generated inputs once per run (timed as harness.gen_s). */
  def stageInputs(): Unit = {
    def put(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$genDir/$name.parquet")
    put(inputs.addons.toDF().drop("first_create_date"), "addons")
    put(inputs.versions.toDF(), "versions")
    put(inputs.editorial.toDF(), "editorial")
    put(inputs.usage.toDF(), "usage")
    put(inputs.clients.toDF(), "clients")
    put(inputs.deletions.toDF(), "deletions")
    put(inputs.optOutsInWindow.toSeq.sorted.toDF("client_id"), "optouts_in_window")
  }

  private def in(name: String): DataFrame = spark.read.parquet(s"$genDir/$name.parquet")

  /** The ops of one pass, in dependency order. */
  def ops(dir: String): Seq[Op] = {
    val art = s"$dir/artifacts"
    val kv = s"$dir/kv.parquet"
    val corpus = s"$dir/corpus"
    val gp = "graphlive_bench_" + dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(40)
    var dump: DataFrame = null
    def cli(args: (String, String)*): String = IngestCli.run(spark, args.toMap)
    def cliOk(out: String, what: String): Seq[String] =
      if (out.contains("failures=0")) Nil else Seq(s"$what: $out")
    var verifyOut, fsckOut = ""

    Seq(
      Op.etl("amodump", prep = () => {
        // the corpus owner's day-1 drop
        docs.where(!isNewDoc).write.parquet(s"$corpus/documents.parquet")
      }) { () =>
        dump = AmoDump.run(in("addons"), in("versions"), s"$art/amodump", AsOf)
      }(() => artifactProblems(s"$art/amodump", "extended_addons_database.json")),
      Op.etl("amowhitelist") { () => AmoWhitelist.run(dump, s"$art/whitelist", AsOf) } { () =>
        Seq("whitelist_addons_database.json", "featured_addons_database.json",
          "featured_whitelist_addons.json").flatMap(artifactProblems(s"$art/whitelist", _))
      },
      Op.etl("updatewhitelist") { () =>
        UpdateWhitelist.run(in("editorial"), s"$art/editorial", AsOf)
      }(() => artifactProblems(s"$art/editorial", "only_guids_top_200.json")),
      Op.etl("guidranking") { () =>
        GuidRanking.run(in("usage"), "addon_id", "client_id", "submission_date",
          ProfileDate, s"$art/ranking", AsOf)
      }(() => artifactProblems(s"$art/ranking", "guid_install_ranking.json")),
      Op.etl("profile_load") { () =>
        ProfileEtl.loadKv(spark, ProfileEtl.extract(in("clients"), ProfileDate, 1.0), kv)
      }(() => Nil),
      Op.etl("profile_delete") { () =>
        ProfileEtl.deleteOptOuts(spark, kv, in("deletions"), ProfileDate, OptOutDays)
      } { () =>
        val n = spark.read.parquet(kv).count()
        if (n == inputs.expectedKvRows) Nil
        else Seq(s"kv rows after opt-out delete: $n, expected ${inputs.expectedKvRows}")
      },
      Op.etl("ingest") { () => cli("stage" -> "occ", "dir" -> corpus) }(() => Nil),
      Op.etl("graph_init") { () =>
        GraphIngest.ingestConsistent(spark, gp, spark.read.parquet(s"$day2Dir/graph_base.parquet"))
      }(() => Nil),
      Op.etl("append", prep = () => {
        docs.where(isNewDoc).write.mode("append").parquet(s"$corpus/documents.parquet")
      }) { () =>
        cli("stage" -> "occ", "dir" -> corpus, "append" -> s"$day2Dir/docs_new.parquet")
      }(() => Nil),
      Op.etl("graph_advance") { () =>
        cli("stage" -> "graph-advance", "prefix" -> gp, "dir" -> corpus,
          "batch" -> s"$day2Dir/graph_day.parquet", "batch-id" -> "day2")
      }(() => Nil),
      Op.etl("delete", prep = () => {
        // the takedown leaves the corpus first, then the state
        docs.where(!goneDoc).write.mode("overwrite").parquet(s"$corpus/documents.parquet")
      }) { () =>
        cli("stage" -> "occ-delete", "dir" -> corpus, "ids" -> s"$day2Dir/doc_ids.parquet")
      }(() => Nil),
      Op.etl("graph_retract") { () =>
        cli("stage" -> "graph-retract", "prefix" -> gp, "dir" -> corpus,
          "batch" -> s"$day2Dir/graph_day.parquet", "batch-id" -> "take-day2")
      } { () =>
        val live = spark.table(s"${gp}_edges").groupBy($"u", $"v")
          .agg(sum($"w").as("w")).where($"w" > 0)
        val base = spark.read.parquet(s"$day2Dir/graph_base.parquet").select($"u", $"v", $"w")
        val (got, want) = (Queries.fingerprint(live), Queries.fingerprint(base))
        if (got == want) Nil else Seq(s"advance+retract graph $got != base $want")
      },
      Op.etl("compact") { () =>
        cli("stage" -> "occ-compact", "dir" -> corpus)
        cli("stage" -> "graph-compact", "prefix" -> gp, "dir" -> corpus)
      }(() => Nil),
      Op.etl("snapshot") { () =>
        cli("stage" -> "snapshot", "dir" -> corpus, "snap-dir" -> s"$dir/snap",
          "prefix" -> gp, "kv-path" -> kv)
      }(() => Nil),
      Op.etl("snapshot_verify") { () =>
        verifyOut = cli("stage" -> "snapshot-verify", "snap-dir" -> s"$dir/snap")
      }(() => cliOk(verifyOut, "snapshot-verify")),
      Op.etl("fsck") { () =>
        fsckOut = cli("stage" -> "fsck", "dir" -> corpus, "prefix" -> gp, "kv-path" -> kv,
          "kv-optouts" -> s"$genDir/optouts_in_window.parquet", "kv-id-col" -> "client_id")
      }(() => cliOk(fsckOut, "fsck")))
  }

  /** Both published copies of an artifact: byte-identical, and decoding
    * to what the oracle derives from the inputs. Records the sha256. */
  val artifactSha = scala.collection.mutable.Map[String, scala.collection.mutable.Set[String]]()

  private def artifactProblems(prefix: String, fname: String): Seq[String] = {
    val latest = Paths.get(s"$prefix/$fname.bz2")
    val dated = Paths.get(s"$prefix/$fname.${AsOf.toString.replace("-", "")}.bz2")
    if (!Files.exists(latest) || !Files.exists(dated)) return Seq(s"$fname: not published")
    val bytes = Files.readAllBytes(latest)
    val sha = sha256(bytes)
    artifactSha.getOrElseUpdate(fname, scala.collection.mutable.Set()) += sha
    val body = {
      val in = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    val problems = Seq.newBuilder[String]
    if (sha != sha256(Files.readAllBytes(dated))) problems += s"$fname: dated copy differs"
    fname match {
      case "only_guids_top_200.json" =>
        val got = body.linesIterator.filter(_.nonEmpty).map(l => mapper.readTree(l).get("guid").asText()).toSeq
        if (got != inputs.expectedShortlist) problems += s"$fname: shortlist differs"
      case "guid_install_ranking.json" =>
        val got = mapper.readTree(body).fields().asScala
          .map(e => e.getKey -> e.getValue.get("install_count").asLong()).toMap
        if (got != inputs.expectedRanking) problems += s"$fname: ranking differs"
      case _ =>
        val got = mapper.readTree(body).fieldNames().asScala.toSet
        if (got != inputs.expectedKeys(fname))
          problems += s"$fname: ${got.size} keys, expected ${inputs.expectedKeys(fname).size}"
    }
    problems.result()
  }

  /** Artifacts whose bytes differed between passes of the same inputs. */
  def unstableArtifacts: Seq[String] = artifactSha.collect { case (f, s) if s.size > 1 => f }.toSeq

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
}

object EtlCycle {
  /** Op names of the TAAR chain (layer `jobs`) and of the day-2 cycle
    * (layer `cli`), in pass order; their per-op times are per-layer
    * metrics. */
  val JobOps: Seq[String] = Seq("amodump", "amowhitelist", "updatewhitelist", "guidranking",
    "profile_load", "profile_delete")
  val CliOps: Seq[String] = Seq("ingest", "graph_init", "append", "graph_advance", "delete",
    "graph_retract", "compact", "snapshot", "snapshot_verify", "fsck")

  /** Writes the day-2 fixtures under `day2Dir` from the sf0.001 tables:
    * the day's new documents, the ids the takedown removes, and the
    * co-purchase graph split into its base and the day's churn batch
    * ((u + v) % 7 == 0). Run once; the files are inputs of every pass. */
  def writeFixtures(spark: SparkSession, dataDir: String, day2Dir: String): Unit = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dataDir)
    def put(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$day2Dir/$name.parquet")
    put(docs.where($"doc_id" % 5 === 0).select($"doc_id", $"text"), "docs_new")
    put(docs.where($"doc_id" % 7 === 0).select($"doc_id"), "doc_ids")
    val isBatch = ($"u" + $"v") % graft.queries.GraphQueries.ChurnMod === 0
    val full = graft.queries.GraphQueries.weightedEdgesPartitioned(spark, dataDir)
    put(full.where(!isBatch), "graph_base")
    put(full.where(isBatch), "graph_day")
  }
}
