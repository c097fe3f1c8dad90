package graft.kg

import graft.model.{Mention, SourceFile, Triple, Vocab}
import graft.parse.RfcDoc
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.util.control.NonFatal

/** The four KG-construction stages (north_star): parse/mention-detect (P),
  * entity-link (L), canonicalize (C), materialize (M), as typed Dataset /
  * DataFrame transforms. Stage shapes follow SURVEY.md §7.1.
  *
  * Scale design:
  *  - P is one narrow mapPartitions — no shuffle; `content` is dropped
  *    immediately after parsing (column pruning: downstream stages never
  *    read it).
  *  - L joins the mention stream against the minted-URI dictionary. The
  *    dictionary here is doc+section URIs (small relative to mentions) →
  *    broadcast; a salted shuffle variant is provided for the 10^12-file
  *    case where the dictionary itself is huge and mention keys are skewed
  *    (mega-cited entities), per north_rule.
  *  - C is KgPipeline.canonFromEdges: one driver byte gate; union-find +
  *    rep pick on the driver below it, Cc.distributedComponents (O(log d)
  *    rounds, checkpointed) + a distributed rep pick above it.
  *  - M rewrites through the canon map (broadcast), dedups, and is
  *    written partitioned by lang, clustered by repo — a salted
  *    (repo, lang) repartition before the write, each task sorted by
  *    (lang, repo).
  */
object KgStages {

  /** Stage-P output row: everything from one parsed document, before the
    * triple/mention explode. Errors are captured, not thrown — a poison row
    * must not kill a 10^12-row job (the reference records per-doc errors in
    * DocumentEntry, documententry.py:266-342). */
  final case class ParseOut(
      docId: String,
      repo: String,
      path: String,
      commit: String,
      lang: String,
      sha256: String,
      uri: String,
      title: String,
      bodyXml: String,
      triples: Seq[Triple],
      mentions: Seq[Mention],
      error: Option[String],
      durMs: Long)

  // ---------------------------------------------------------- patch stage
  /** patch_if_needed output row: the (possibly patched) source plus the
    * patch description / conflict error, which feed the lineage axis
    * exactly like parse errors do (the reference records PatchError per
    * document via managedparsing). */
  final case class PatchedFile(
      repo: String, path: String, commit: String, lang: String,
      content: String,
      patchDesc: Option[String],
      patchError: Option[String]) {
    def toSourceFile: SourceFile = SourceFile(repo, path, commit, lang, content)
  }

  /** patch_if_needed (documentrepository.py:1355-1404): rows with an entry
    * in the patch table get the unified diff applied BEFORE parsing; the
    * hunk comment (or the table's desc column) becomes the patch
    * description. Patch conflicts are captured per row, never thrown —
    * the poison-row rule. The patch table is a broadcast dim (patches are
    * curated by humans; they never approach corpus scale). Expected
    * columns: repo, path, patch, desc (nullable). */
  def patchStage(input: Dataset[SourceFile],
                 patches: DataFrame): Dataset[PatchedFile] = {
    val spark = input.sparkSession
    import spark.implicits._
    // uniqueness guard (ADVICE r2): the reference asserts exactly one
    // patch per file — two patch rows for the same (repo, path) must NOT
    // silently duplicate the source row through every downstream stage.
    // Aggregate to one row per key; keys with >1 patch surface as a
    // patchError (poison-row rule: captured, never thrown).
    val p = patches.groupBy(col("repo").as("_prepo"), col("path").as("_ppath"))
      .agg(count(lit(1)).as("_pn"),
        min(col("patch")).as("_patch"), min(col("desc")).as("_pdesc"))
    input.toDF()
      .join(broadcast(p),
        col("repo") === col("_prepo") && col("path") === col("_ppath"),
        "left")
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        col("content"), col("_patch"), col("_pdesc"), col("_pn"))
      .as[(String, String, String, String, String, Option[String],
           Option[String], Option[Long])]
      .map { case (repo, path, commit, lang, content, patch, tableDesc, pn) =>
        patch match {
          case _ if pn.exists(_ > 1) =>
            PatchedFile(repo, path, commit, lang, content, None,
              Some(s"${pn.get} patches for $repo/$path; expected exactly one"))
          case None =>
            PatchedFile(repo, path, commit, lang, content, None, None)
          case Some(pt) =>
            try {
              val (patched, hunkDesc) = graft.parse.Patch.apply(content, pt)
              PatchedFile(repo, path, commit, lang, patched,
                hunkDesc.orElse(tableDesc)
                  .orElse(Some("(No patch description available)")), None)
            } catch {
              case e: graft.parse.Patch.PatchConflict =>
                PatchedFile(repo, path, commit, lang, content,
                  None, Some(e.getMessage))
            }
        }
      }
  }

  // ------------------------------------------------------------- stage P
  def parseStage(input: Dataset[SourceFile]): Dataset[ParseOut] = {
    val spark = input.sparkSession
    import spark.implicits._
    input.mapPartitions { rows =>
      rows.map { src =>
        val t0 = System.nanoTime()
        try {
          val p = graft.parse.DocParsers.parse(src)
          ParseOut(p.docId, src.repo, src.path, src.commit, src.lang,
            p.sha256, p.uri, p.title, p.bodyXml, p.triples, p.mentions,
            None, (System.nanoTime() - t0) / 1000000)
        } catch {
          // a backtracking regex over a hostile document overflows the
          // stack; the row fails, not the task
          case e @ (NonFatal(_) | _: StackOverflowError) =>
            // sha only needed on the (rare) failure path — computing it
            // up front doubled the digest work of every healthy row
            val docId = s"${src.repo}/${src.path}@${src.commit}"
            ParseOut(docId, src.repo, src.path, src.commit, src.lang,
              RfcDoc.sha256Hex(src.content), "", "", "", Seq.empty, Seq.empty,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"),
              (System.nanoTime() - t0) / 1000000)
        }
      }
    }
  }

  /** Parsed docs table (content dropped; sha256 carried — the per-row
    * invariant of input_hint). */
  def docsDf(p: Dataset[ParseOut]): DataFrame =
    p.filter(col("error").isNull)
      .select("docId", "repo", "path", "commit", "lang", "sha256", "uri",
        "title", "bodyXml")

  /** Per-document metadata triples, flattened, with partition columns. */
  def docTriplesDf(p: Dataset[ParseOut]): DataFrame =
    p.filter(col("error").isNull)
      .select(col("repo"), col("lang"), explode(col("triples")).as("t"))
      .select(col("t.*"), col("repo"), col("lang"))

  /** Mention stream, flattened. */
  def mentionsDf(p: Dataset[ParseOut]): DataFrame =
    p.filter(col("error").isNull)
      .select(explode(col("mentions")).as("m"))
      .select(col("m.*"))

  /** Failed rows — kept for the lineage/metrics table. */
  def failuresDf(p: Dataset[ParseOut]): DataFrame =
    p.filter(col("error").isNotNull)
      .select("docId", "repo", "path", "commit", "lang", "sha256", "error")

  // ------------------------------------------------------------- stage L
  /** Entity dictionary = every minted subject URI of the corpus (doc +
    * section URIs) plus the static org/category entities. One column `uri`. */
  def entityDictionary(docTriples: DataFrame): DataFrame = {
    val spark = docTriples.sparkSession
    val static = (EntityDict.publishers.values.toSeq ++
      EntityDict.categories.values.toSeq).distinct
    // one distinct over the union instead of distinct-union-distinct:
    // same set, one exchange less (guide §2.4)
    docTriples.select(col("subj").as("uri"))
      .unionByName(spark.createDataFrame(
        static.map(Tuple1(_))).toDF("uri"))
      .distinct()
  }

  /** Link results: every mention becomes a dcterms:references triple
    * (mention detection already minted the target URI — the reference
    * creates the Link node unconditionally, citationparser.py:98-165);
    * `resolved` marks whether the target exists in the dictionary
    * (resolved = deps edges; unresolved = skeleton candidates,
    * sources/general/skeleton.py:17-44). The pipeline derives deps and
    * skeleton from the mentions directly ([[depsFromMentions]],
    * [[skeletonFromMentions]]); this join is the oracle's `kg_linked`
    * table, from which the DuckDB checks re-derive both.
    *
    * Join strategy: broadcast when `broadcastDict`; otherwise a salted
    * shuffle join — mention candidateKeys are Zipf-skewed (mega-cited
    * RFCs), so the dictionary side is replicated `salt` ways and each
    * mention picks a deterministic salt from its docId (north_rule skew
    * handling; AQE skew-join stays on as backstop). */
  def linkStage(mentions: DataFrame, dict: DataFrame,
                broadcastDict: Boolean = true, salt: Int = 8): DataFrame = {
    val m = mentions
    val d = dict.withColumn("resolved", lit(true))
    val matched =
      if (broadcastDict)
        m.join(broadcast(d), m("candidateKey") === d("uri"), "left")
      else {
        val saltedDict = d
          .withColumn("__s", explode(sequence(lit(0), lit(salt - 1))))
        val saltedM = m.withColumn("__s", pmod(xxhash64(col("docId")), lit(salt)))
        saltedM.join(saltedDict,
            saltedM("candidateKey") === saltedDict("uri") &&
            saltedM("__s") === saltedDict("__s"), "left")
          .drop("__s")
      }
    matched
      .withColumn("resolved", coalesce(col("resolved"), lit(false)))
      .drop("uri")
  }

  /** Link triples from the linked mention stream. Note DISTINCT: several
    * textual mentions of the same target within one section collapse to one
    * statement, exactly as the reference's distilled graph does (an rdflib
    * Graph is a set). */
  def linkTriplesDf(linked: DataFrame): DataFrame = {
    val graphCol = concat(lit(s"${EntityDict.base}/dataset/"), col("repo"))
    linked.select(
        col("subjUri").as("subj"),
        lit(Vocab.dcterms("references")).as("pred"),
        col("candidateKey").as("obj"),
        lit(false).as("objIsLiteral"),
        lit(null).cast("string").as("objDatatype"),
        lit(null).cast("string").as("objLang"),
        graphCol.as("graph"),
        col("repo"), col("lang"))
      .dropDuplicates("subj", "pred", "obj", "graph")
  }

  /** Reverse-dependency edge table (relate_dependencies,
    * documentrepository.py:2018-2056): for each resolved target, the set of
    * source docs that reference it. owl:sameAs and rdf:type objects are
    * excluded by construction (mentions only carry citation targets).
    * Aggregates FIRST (map-side partial aggregation shrinks the shuffle to
    * one row per target — guide §2.3), then ONE broadcast dictionary join
    * keeps only resolved targets: row-identical to grouping the resolved
    * rows of [[linkStage]] (asserted in KgSpec) without materializing the
    * full mention×dict join. */
  def depsFromMentions(mentions: DataFrame, dict: DataFrame,
                       broadcastDict: Boolean = true): DataFrame = {
    val d = dict.select(col("uri"))
    mentions.groupBy(col("candidateKey").as("target"))
      .agg(sort_array(collect_set(col("docId"))).as("sources"),
        count(lit(1)).as("n_refs"))
      .join(if (broadcastDict) broadcast(d) else d,
        col("target") === col("uri"))
      .drop("uri")
  }

  /** Dangling targets: referenced but never defined → skeleton entities
    * (skeleton.py:17-44). From the mention table plus the already-computed
    * deps targets: {candidateKey with a non-URLRef mention} ∖ {resolved
    * targets}. Equivalent to the distinct unresolved non-URLRef keys of
    * [[linkStage]]: a resolved target with any mention IS a deps row, and a
    * key whose mentions are all URLRef never enters either side's
    * candidate set. Asserted in KgSpec. The targets are a subset of the
    * dictionary, so they are broadcast exactly when `depsFromMentions`
    * broadcasts it. */
  def skeletonFromMentions(mentions: DataFrame, depsTargets: DataFrame,
                           broadcastDict: Boolean = true): DataFrame = {
    val t = depsTargets.select(col("target"))
    mentions.filter(!col("grammar").isin("URLRef"))
      .select(col("candidateKey").as("uri")).distinct()
      .join(if (broadcastDict) broadcast(t) else t,
        col("uri") === col("target"), "left_anti")
  }

  /** Fuzzy label linking: literal triples on label-bearing predicates are
    * scored against a (label → uri) dictionary. Blocking = shared token
    * (Jaccard-style blocking per north_star: candidates must share at least
    * one token; dictionary side broadcast); scoring = LCS character ratio
    * >= cutoff, the reference's difflib semantics
    * (documentrepository.py:539-545). Returns the input triples with
    * resolvable literals upgraded to URI objects. */
  def fuzzyUpgrade(triples: DataFrame, labelDict: Map[String, String],
                   preds: Seq[String], cutoff: Double = 0.8): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val dict = spark.createDataFrame(labelDict.toSeq).toDF("label", "luri")
      .withColumn("tok", explode(split(lower(col("label")), "\\s+")))
    val cand = triples
      .filter(col("objIsLiteral") && col("pred").isin(preds: _*))
      .select(col("subj").as("csubj"), col("pred").as("cpred"),
        col("obj").as("clit"))
      .distinct()
      .withColumn("tok", explode(split(lower(col("clit")), "\\s+")))
      .join(broadcast(dict), Seq("tok"))
      .dropDuplicates("csubj", "cpred", "clit", "label")
      .select("tok", "csubj", "cpred", "clit", "label", "luri")
    // exact ratio scoring on the (small) candidate set
    val scored = cand.as[(String, String, String, String, String, String)]
      .map { case (_, subj, pred, litv, label, luri) =>
        (subj, pred, litv, luri, EntityDict.ratio(litv, label))
      }
      .toDF("csubj", "cpred", "clit", "luri", "score")
      .filter(col("score") >= cutoff)
    val w = Window.partitionBy("csubj", "cpred", "clit")
      .orderBy(col("score").desc, col("luri").asc)
    val best = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("csubj"), col("cpred"), col("clit"), col("luri"))
    triples
      .join(broadcast(best),
        triples("subj") === col("csubj") && triples("pred") === col("cpred") &&
        triples("obj") === col("clit") && triples("objIsLiteral"), "left")
      .withColumn("obj", coalesce(col("luri"), col("obj")))
      .withColumn("objIsLiteral",
        when(col("luri").isNotNull, lit(false)).otherwise(col("objIsLiteral")))
      .drop("csubj", "cpred", "clit", "luri")
  }

  // ------------------------------------------------------------- stage M
  /** Write tasks each (repo, lang) group of triples is spread over. */
  final val WriteSalt = 4

  /** Union doc + link + curated triples, rewrite through the canon map,
    * dedup, repartition for the write (partitioned by lang, clustered by
    * repo).
    *
    * Skew note: repartitioning on (repo, lang) alone funnels a mega-repo
    * (north_rule's pathological case — 35% of the corpus here) into ONE
    * task, serializing its write. A salt column derived from the subject
    * spreads each (repo, lang) group across [[WriteSalt]] tasks, so a
    * mega-repo lands in several files inside its `lang` directory, each
    * written by its own task. */
  def materialize(docTriples: DataFrame, linkTriples: DataFrame,
                  curated: DataFrame, canon: DataFrame): DataFrame = {
    val all = docTriples
      .unionByName(linkTriples)
      .unionByName(curated, allowMissingColumns = true)
    // ONE exchange instead of two (guide §2.4): the write-layout
    // repartition keys on (repo, lang, salt-of-subj) with the salt
    // MATERIALIZED as a column, and the dedup groups on every column
    // INCLUDING that salt. Since the salt is a pure function of subj, the
    // dedup semantics are unchanged — but now the repartition's
    // HashPartitioning is a subset of the dedup's grouping keys, so
    // EnsureRequirements reuses it and dropDuplicates adds no second
    // shuffle of the full triple table.
    Cc.rewrite(all, canon, dedup = false)
      .withColumn("__salt", pmod(xxhash64(col("subj")), lit(WriteSalt)))
      .repartition(col("repo"), col("lang"), col("__salt"))
      .dropDuplicates()
      .drop("__salt")
  }

  // ------------------------------------------------------------ lineage
  /** Per-(stage, repo, lang) lineage + metrics row (north_rule). The
    * content fold is a bit_xor of `key`, each row's 60-bit content key
    * ([[hexKey]] or [[longKey]]) — order-independent, so two runs over the
    * same partition agree regardless of row order. */
  def lineageDf(rows: DataFrame, key: Column, stage: String,
                runId: String): DataFrame =
    rows.groupBy(col("repo"), col("lang"))
      .agg(
        count(lit(1)).as("outputRows"),
        format_string("%015x", bit_xor(key)).as("contentSha256Xor"))
      .withColumn("stage", lit(stage))
      .withColumn("runId", lit(runId))
      .withColumn("committedAt", current_timestamp())

  /** The lineage key of a hex digest: its leading 15 hex digits. */
  def hexKey(hexDigest: Column): Column =
    conv(substring(hexDigest, 1, 15), 16, 10).cast("long")

  /** hexKey(hex(v)) of a long, without the string round trip: hex of a
    * long has no leading zeros, so its first 15 digits are all of v below
    * 2^60 and v >>> 4 from there on (negative v included). */
  def longKey(v: Column): Column =
    when(shiftrightunsigned(v, 60) === 0, v).otherwise(shiftrightunsigned(v, 4))

  /** Resumability (the reference's `needed` predicate,
    * documentstore.py:400-470): rows of `input` not yet present in the
    * processed docs table with the same content hash. A changed file
    * (different sha256 for the same (repo,path,commit)) is re-processed;
    * an unchanged one is skipped. The result is local-checkpointed: a
    * plan that still read `processedDocs`' path would be re-cached by the
    * run's own append to it, and then see no pending rows. */
  def pending(input: Dataset[SourceFile], processedDocs: DataFrame): Dataset[SourceFile] = {
    val spark = input.sparkSession
    import spark.implicits._
    val withSha = input.withColumn("sha256", sha2(col("content"), 256))
    val done = processedDocs.select(
      col("repo").as("drepo"), col("path").as("dpath"),
      col("commit").as("dcommit"), col("sha256").as("dsha"))
    withSha.join(done,
        col("repo") === col("drepo") && col("path") === col("dpath") &&
        col("commit") === col("dcommit") && col("sha256") === col("dsha"),
        "left_anti")
      .drop("sha256")
      .as[SourceFile]
      .localCheckpoint()
  }
}
