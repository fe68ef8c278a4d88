package perfbench

import graft.api.{AnnIndex, CuratePipeline, FeatureHashEmbedder, PayloadIndex,
  PointsUpdate, QueryRequest, VectorIndex}
import graft.functions.Vectors.l2Distance
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Row layouts the benchmark hands to the library. */
object Frames {
  val pointSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(DoubleType, containsNull = false)),
    StructField("text", StringType),
    StructField("user_id", LongType, nullable = false),
    StructField("site", StringType),
    StructField("lang", StringType),
    StructField("seq", LongType, nullable = false)))

  def points(spark: SparkSession, pts: Seq[Pt], slices: Int = 4): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(pts.map(p =>
      Row(p.id, p.vec.toSeq, p.text, p.user, p.site, p.lang, p.seq)), slices), pointSchema)

  def fromRow(r: Row): Pt =
    Pt(r.getAs[Long]("id"), r.getAs[scala.collection.Seq[Double]]("vector").toArray,
      r.getAs[String]("text"), r.getAs[Long]("user_id"), r.getAs[String]("site"),
      r.getAs[String]("lang"), r.getAs[Long]("seq"))

  def vecJson(v: Array[Double]): String = v.mkString("[", ",", "]")

  def filterJson(conds: Seq[String]): String = conds.mkString("""{"must":[""", ",", "]}")

  def matchValue(key: String, v: Any): String = v match {
    case s: String => s"""{"key":"$key","match":{"value":"$s"}}"""
    case other => s"""{"key":"$key","match":{"value":$other}}"""
  }
}

/** A `/points/query` request as a client of one tenant sends it, with
  * what the harness needs to compute its brute-force answer.
  */
final case class SearchReq(route: String, json: String, user: Long, q: Array[Double],
                           site: Option[String], lang: Option[String], word: Option[String]) {
  def matches(p: Pt): Boolean =
    p.user == user && site.forall(_ == p.site) && lang.forall(_ == p.lang) &&
      word.forall(w => Twin.hasWords(p.text, Seq(w)))
}

object SearchReq {
  val K = 10

  def apply(route: String, anchor: Pt, q: Array[Double], rnd: Random): SearchReq = {
    val site = if (route == "tenant_site_lang") Some(anchor.site) else None
    val lang = site.map(_ => anchor.lang)
    val word = if (route == "payload_text") {
      val ws = anchor.text.split(" ")
      Some(ws(rnd.nextInt(ws.length)))
    } else None
    val conds = Seq(Frames.matchValue("user_id", anchor.user)) ++
      site.map(Frames.matchValue("site", _)) ++ lang.map(Frames.matchValue("lang", _)) ++
      word.map(w => s"""{"key":"text","match":{"text":"$w"}}""")
    val json = s"""{"query":${Frames.vecJson(q)},"filter":${Frames.filterJson(conds)},"limit":$K}"""
    SearchReq(route, json, anchor.user, q, site, lang, word)
  }
}

/** Read-only serving: two closed-loop clients send tenant-filtered
  * queries against a persisted, bucketed collection. Each request reads
  * a small slice, so per-request costs (parse, plan, job scheduling,
  * file listing) dominate rather than the distance kernel.
  */
final class TenantSearch(seed: Long, nPoints: Int, nTenants: Int) extends Workload {
  override val clients = 2
  val unit = "search requests"
  val NList = 32
  val NProbe = 4

  private lazy val coll = Gen.collection(seed, nPoints, nTenants)
  private var idx: VectorIndex = _
  private var pidx: PayloadIndex = _
  private var ann: AnnIndex = _
  private val recalls = new ConcurrentLinkedQueue[Double]()

  override def stage(ctx: Ctx): Unit =
    Frames.points(ctx.spark, coll.points.toSeq).write.parquet(ctx.dir("input"))

  def setup(ctx: Ctx, dir: String): Unit = {
    val pts = ctx.spark.read.parquet(ctx.dir("input"))
    VectorIndex(pts).save(s"$dir/collection")
    idx = VectorIndex.load(ctx.spark, s"$dir/collection")
    pidx = PayloadIndex.create(ctx.spark, pts, s"$dir/payload",
      keyword = Seq("lang"), integer = Seq("user_id"), text = Seq("text"))
    ann = AnnIndex.build(pts.select(col("id").as("vec_id"), col("vector").as("vec"),
      col("user_id"), col("site"), col("lang")), s"$dir/ann", nlist = NList)
  }

  // The routes take turns, one request each: no traffic mix of the
  // reference service is known, so none is weighted above another.
  private val routes: IndexedSeq[String] =
    IndexedSeq("tenant", "tenant_site_lang", "payload_text", "ann")
  private val sent = Array.fill(2)(0)

  private def request(client: Int, rnd: Random): SearchReq = {
    val route = routes((sent(client) + client * routes.size / 2) % routes.size)
    sent(client) += 1
    val own = coll.byUser(coll.tenant(rnd))
    val anchor = own(rnd.nextInt(own.length))
    SearchReq(route, anchor, Gen.queryNear(rnd, anchor), rnd)
  }

  def warmup(ctx: Ctx): Unit = {
    val rnd = new Random(seed ^ 0x5eed)
    (0 until 6 * routes.size).foreach(_ => step(ctx, 0, rnd))
    sent(0) = 0
  }

  def step(ctx: Ctx, client: Int, rnd: Random): Unit = {
    val req = request(client, rnd)
    val t = ctx.tracer
    ctx.op(s"search.${req.route}", primary = true) {
      val parsed = t.span("QueryRequest.parse")(QueryRequest.fromJson(req.json))
      val vec = parsed.query.asInstanceOf[QueryRequest.NearestVector].vec
      val (f, k) = (parsed.filter.get, parsed.limit.get)
      val df = req.route match {
        case "payload_text" => t.span("PayloadIndex.call") {
          pidx.readFilter(f)
            .withColumn("score", l2Distance(lit(vec.toArray), col("vector")))
            .orderBy(col("score"), col("id")).limit(k)
            .select(col("id"), col("text").as("string"), col("score"))
        }
        case "ann" => t.span("AnnIndex.call") {
          ann.searchFilter(vec, f, k, NProbe).select(col("vec_id").as("id"), col("cosine").as("score"))
        }
        case _ => t.span("VectorIndex.call") {
          idx.searchFilter(vec, f, k).select("id", "string", "score")
        }
      }
      val rows = ctx.collect(df)
      ctx.render(rows)
      (rows, 1.0, rows.length.toLong)
    }.foreach { case (rows, rec) => verify(ctx, req, rows, rec) }
  }

  private def verify(ctx: Ctx, req: SearchReq, rows: Array[Row], rec: OpRecord): Unit = {
    val got = rows.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Double]("score")))
    val cands = coll.byUser(req.user).filter(req.matches)
    if (req.route == "ann") {
      val want = Twin.topCos(cands, req.q, SearchReq.K)
      val byId = cands.map(p => p.id -> p).toMap
      val honest = got.forall { case (id, s) =>
        byId.get(id).exists(p => math.abs(Twin.cosine(req.q, p.vec) - s) <= 1e-9)
      } && got.map(-_._2) == got.map(-_._2).sorted
      ctx.check(honest, s"ann op ${rec.id}: a returned point fails the filter or its score")
      val hit = got.map(_._1).toSet.intersect(want.map(_._1).toSet).size
      if (ctx.measuring) recalls.add(if (want.isEmpty) 1.0 else hit.toDouble / want.size)
    } else
      ctx.check(Twin.sameRanking(got, Twin.topL2(cands, req.q, SearchReq.K)),
        s"${req.route} op ${rec.id}: ranking differs from brute force")
  }

  override def layerFigures(ctx: Ctx): Map[String, Double] = {
    val annOps = ctx.records.filter(_.kind == "search.ann")
    val probed = annOps.map(r => ctx.counters.of(r.id).rowsRead).sum
    Map(
      "AnnIndex.recall_at_10" -> Stats.mean(recalls.asScala.toSeq),
      "AnnIndex.rows_probed_fraction" ->
        (if (annOps.isEmpty) 0.0 else probed.toDouble / (annOps.size.toLong * nPoints)))
  }

  override def report(ctx: Ctx): Seq[String] =
    Seq(f"ann recall@10 ${Stats.mean(recalls.asScala.toSeq)}%.4f over ${recalls.size} requests " +
      s"(nprobe $NProbe of $NList lists)")
}

/** Writes beside reads: one closed-loop client sends an ordered, seeded
  * stream of 100-text upserts (about 30% re-writing live ids), deletes
  * by user, word and regex, and tenant searches. A write is acknowledged
  * once its generation has committed, and a read-your-write check
  * follows every acknowledgement.
  */
final class IngestMixed(seed: Long, nPoints: Int, nTenants: Int) extends Workload {
  val unit = "points acknowledged"
  val Batch = 100
  val Rewrites = 30

  private lazy val coll = Gen.collection(seed, nPoints, nTenants)
  private var root: String = _
  private var cur: VectorIndex = _
  private var gen = 0L
  private val live = mutable.HashMap[Long, Pt]()
  private var nextId = 0L
  private var nextSeq = 1000000000L
  private var deletes = 0
  // per acknowledged write: (files, bytes written, request bytes)
  private val writes = mutable.ArrayBuffer[(Long, Long, Long)]()

  override def stage(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    coll.points.toSeq.map(p => (p.id, p.text, p.user, p.site, p.lang))
      .toDF("doc_id", "text", "user_id", "site", "lang")
      .write.parquet(ctx.dir("input"))
  }

  def setup(ctx: Ctx, dir: String): Unit = {
    root = s"$dir/collection"
    gen = 0L
    VectorIndex.fromTexts(ctx.spark.read.parquet(ctx.dir("input")))
      .save(s"$root/${VectorIndex.generationDir(gen)}")
    cur = VectorIndex.load(ctx.spark, root)
  }

  override def prepare(ctx: Ctx): Unit = {
    live.clear()
    cur.points.collect().foreach(r => live(r.getAs[Long]("id")) = Frames.fromRow(r))
    nextId = live.keys.max + 1
  }

  // the delete kind keeps rotating across warm-up and window, so a run
  // deletes by user (warm-up), then by word, regex and user (window)
  def warmup(ctx: Ctx): Unit = step(ctx, 0, new Random(seed ^ 0x5eed))

  /** Three cycles at `--seconds 10`, whatever a cycle costs: a window
    * would hold two, three or four cycles of about 4 s by how fast the
    * commit path is, and the collection and its generations grow with
    * every cycle.
    */
  override def fixedSteps(seconds: Int): Option[Int] = Some(math.max(3, seconds * 3 / 10))

  /** One cycle of the op stream: an upsert, a delete and a search, one
    * each, since no op mix of the reference service is known. All three
    * are unit ops; only upserts count as work (points acknowledged), and
    * the checks after each op are timed in the window but not as ops.
    */
  def step(ctx: Ctx, client: Int, rnd: Random): Unit = {
    upsert(ctx, rnd)
    delete(ctx, rnd)
    search(ctx, rnd)
  }

  /** Load the live generation, apply `mutate`, save the next one. */
  private def commit(ctx: Ctx)(mutate: VectorIndex => VectorIndex): String = {
    val t = ctx.tracer
    t.span("commit") {
      val idx = t.span("VectorIndex.load", exec = true)(VectorIndex.load(ctx.spark, root))
      val next = t.span("VectorIndex.call")(mutate(idx))
      val path = s"$root/${VectorIndex.generationDir(gen + 1)}"
      t.span("commit.save", exec = true)(next.save(path))
      gen += 1
      path
    }
  }

  private def acked(ctx: Ctx, path: String, requestBytes: Long): Unit =
    if (ctx.measuring) {
      val (files, bytes) = ctx.footprint(path)
      writes += ((files, bytes, requestBytes))
    }

  private def upsert(ctx: Ctx, rnd: Random): Unit = {
    val ids = live.keys.toArray
    val rewrite = mutable.LinkedHashSet[Long]()
    while (rewrite.size < math.min(Rewrites, ids.length)) rewrite += ids(rnd.nextInt(ids.length))
    val fresh = (rewrite.size until Batch).map { _ => nextId += 1; nextId }
    val pts = (rewrite.toSeq ++ fresh).map { id =>
      nextSeq += 1
      val user = live.get(id).map(_.user).getOrElse(coll.tenant(rnd))
      Pt(id, null, Gen.text(rnd, 6, 14), user, Gen.Sites(rnd.nextInt(Gen.Sites.size)),
        Gen.Langs(rnd.nextInt(Gen.Langs.size)), nextSeq)
    }
    val t = ctx.tracer
    val spark = ctx.spark
    import spark.implicits._
    ctx.op("write.upsert", primary = true) {
      val vecs = t.span("Embedder.embed", exec = true) {
        FeatureHashEmbedder.embed(pts.map(p => (p.id, p.text)).toDF("doc_id", "text"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      }
      // the client composes the wire request from the embedded texts
      val body = t.span("request.compose")(pts.map { p =>
        s"""{"id":${p.id},"vector":${Frames.vecJson(vecs(p.id))},"payload":{"user_id":${p.user},""" +
          s""""seq":${p.seq},"site":"${p.site}","lang":"${p.lang}","text":"${p.text}"}}"""
      }.mkString("""{"upsert":{"points":[""", ",", "]}}"))
      val parsed = t.span("PointsUpdate.parse")(PointsUpdate.fromJson(body)) match {
        case Seq(PointsUpdate.Upsert(ps)) => ps
        case other => throw new IllegalStateException(s"unexpected update ops $other")
      }
      val path = commit(ctx)(_.upsert(Frames.points(spark, parsed.map(u =>
        Pt(u.id, u.vector.toArray, u.text.orNull, u.userId, u.site.orNull, u.lang.orNull, u.seq)), 1)))
      ((path, body.length.toLong, vecs), Batch.toDouble, 0L)
    }.foreach { case ((path, bytes, vecs), _) =>
      pts.foreach(p => live(p.id) = p.copy(vec = vecs(p.id)))
      acked(ctx, path, bytes)
      readYourWrite(ctx, pts.map(p => p.id -> p.seq), Nil)
    }
  }

  private def delete(ctx: Ctx, rnd: Random): Unit = {
    val kind = deletes % 3
    deletes += 1
    val anyPt = live.valuesIterator.drop(rnd.nextInt(live.size)).next()
    val rare = anyPt.text.split(" ").maxBy(_.stripPrefix("w").toInt)
    val (name, body, doomed): (String, String, Pt => Boolean) = kind match {
      case 0 =>
        val u = coll.tenantOfRank(nTenants / 2 + rnd.nextInt(nTenants / 2))
        ("user", s"""{"delete":{"filter":${Frames.filterJson(Seq(Frames.matchValue("user_id", u)))}}}""",
          p => p.user == u)
      case 1 =>
        ("word", s"""{"user_id":${anyPt.user},"word":"$rare"}""",
          p => p.user == anyPt.user && p.text.contains(rare))
      case _ =>
        val re = s"(^| )$rare( |$$)"
        val pat = java.util.regex.Pattern.compile(re)
        ("regex", s"""{"user_id":${anyPt.user},"regex":"$re"}""",
          p => p.user == anyPt.user && pat.matcher(p.text).find())
    }
    val t = ctx.tracer
    ctx.op("write.delete", primary = true) {
      val path = name match {
        case "user" =>
          t.span("PointsUpdate.parse")(PointsUpdate.fromJson(body)) match {
            case Seq(PointsUpdate.Delete(PointsUpdate.ByFilter(f))) =>
              commit(ctx)(_.deleteByFilter(f))
            case other => throw new IllegalStateException(s"unexpected update ops $other")
          }
        case _ =>
          val req = ctx.json.readTree(body)
          val user = req.get("user_id").asLong()
          if (name == "word") commit(ctx)(_.deleteByWord(user, req.get("word").asText()))
          else commit(ctx)(_.deleteByRegex(user, req.get("regex").asText()))
      }
      (path, 0.0, 0L)
    }.foreach { case (path, _) =>
      val gone = live.valuesIterator.filter(doomed).map(_.id).toSeq
      live --= gone
      acked(ctx, path, body.length.toLong)
      readYourWrite(ctx, Nil, gone)
    }
  }

  /** The acknowledged generation shows every upserted id at its new seq
    * and none of the deleted ids.
    */
  private def readYourWrite(ctx: Ctx, upserted: Seq[(Long, Long)], deleted: Seq[Long]): Unit =
    ctx.op("check.read_your_write", primary = false) {
      cur = ctx.tracer.span("VectorIndex.load", exec = true)(VectorIndex.load(ctx.spark, root))
      val rows = ctx.collect(cur.retrieve(upserted.map(_._1) ++ deleted).select("id", "seq"))
      (rows, 0.0, rows.length.toLong)
    }.foreach { case (rows, rec) =>
      val seen = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      ctx.check(upserted.forall { case (id, s) => seen.get(id).contains(s) } &&
        deleted.forall(id => !seen.contains(id)),
        s"read-your-write op ${rec.id}: generation $gen misses an acknowledged write")
    }

  private def search(ctx: Ctx, rnd: Random): Unit = {
    val u = coll.tenant(rnd)
    val own = live.valuesIterator.filter(_.user == u).toArray
    val anchor = if (own.nonEmpty) own(rnd.nextInt(own.length))
      else live.valuesIterator.drop(rnd.nextInt(live.size)).next()
    val req = SearchReq("tenant", anchor, Gen.queryNear(rnd, anchor), rnd)
    val t = ctx.tracer
    ctx.op("search.tenant", primary = true) {
      val parsed = t.span("QueryRequest.parse")(QueryRequest.fromJson(req.json))
      val df = t.span("VectorIndex.call")(cur.searchFilter(
        parsed.query.asInstanceOf[QueryRequest.NearestVector].vec, parsed.filter.get,
        parsed.limit.get).select("id", "string", "score"))
      val rows = ctx.collect(df)
      ctx.render(rows)
      (rows, 0.0, rows.length.toLong)
    }.foreach { case (rows, rec) =>
      val got = rows.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Double]("score")))
      ctx.check(Twin.sameRanking(got, Twin.topL2(live.values.filter(req.matches), req.q, SearchReq.K)),
        s"search op ${rec.id} after generation $gen: ranking differs from brute force")
    }
  }

  override def layerFigures(ctx: Ctx): Map[String, Double] = {
    val n = math.max(1, writes.size)
    val userBytes = writes.map(_._3).sum
    Map(
      "commit.files_written_per_op" -> writes.map(_._1).sum.toDouble / n,
      "commit.bytes_written_per_op" -> writes.map(_._2).sum.toDouble / n,
      "commit.write_amplification" ->
        (if (userBytes == 0) 0.0 else Stats.writeAmplification(writes.map(_._2).sum, userBytes)))
  }

  override def report(ctx: Ctx): Seq[String] =
    Seq(s"committed generations: $gen, live points: ${live.size}")
}

/** The training-data half: `CuratePipeline.curate` over a corpus with
  * planted low-quality docs, exact copies and near-duplicates. Each pass
  * reads a fresh copy of the input directory, since the library memoizes
  * per directory. A run makes a fixed number of passes, so every metric,
  * used heap too, covers the same work whatever a pass costs.
  */
final class CurateCorpus(seed: Long, nBase: Int) extends Workload {
  val unit = "documents"
  private lazy val corpus = Gen.corpus(seed, nBase)
  private var staged: String = _
  private var passes = 0
  private var firstJobs = -1

  /** Stage the raw corpus, then make the library's first, cold pass over
    * a fresh copy of it.
    */
  def setup(ctx: Ctx, dir: String): Unit = {
    import ctx.spark.implicits._
    staged = s"$dir/raw"
    corpus.docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$staged/documents.parquet")
    pass(ctx)
  }

  // the set-ups' passes are the warm-up
  def warmup(ctx: Ctx): Unit = ()

  /** One pass per 4 s asked for, at least three. */
  override def fixedSteps(seconds: Int): Option[Int] = Some(math.max(3, (seconds + 2) / 4))

  def step(ctx: Ctx, client: Int, rnd: Random): Unit = pass(ctx)

  private def pass(ctx: Ctx): Unit = {
    passes += 1
    val in = ctx.dir(s"curate-in-$passes")
    val out = ctx.dir(s"curate-out-$passes")
    val hconf = ctx.spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(staged)
    org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(hconf), src,
      src.getFileSystem(hconf), new org.apache.hadoop.fs.Path(in), false, hconf)
    val n = corpus.docs.size
    ctx.op("curate", primary = true) {
      val rep = ctx.tracer.span("CuratePipeline.curate", exec = true)(
        CuratePipeline.curate(ctx.spark, in, out))
      ctx.tracer.span("render.json")(ctx.json.writeValueAsString(Map(
        "input" -> rep.nInput, "after_quality" -> rep.nAfterQuality,
        "after_exact" -> rep.nAfterExactDedup, "after_near" -> rep.nAfterNearDedup,
        "sampled" -> rep.nSampled).asJava))
      (rep, n.toDouble, 1L)
    }.foreach { case (rep, rec) =>
      val q = n - corpus.lowQuality
      val e = q - corpus.exactDups
      val nd = e - corpus.nearDups
      ctx.check(rep.nInput == n && rep.nAfterQuality == q && rep.nAfterExactDedup == e &&
        rep.nAfterNearDedup == nd && rep.nSampled == nd,
        s"curate op ${rec.id}: report $rep, planted $n in / $q quality / $e exact / $nd near")
      if (ctx.measuring) {
        org.apache.spark.perfbench.ListenerDrain(ctx.spark.sparkContext)
        val jobs = ctx.counters.of(rec.id).jobs
        if (firstJobs < 0) firstJobs = jobs
        ctx.check(jobs == firstJobs,
          s"curate op ${rec.id} ran $jobs Spark jobs where the first timed pass ran $firstJobs: " +
            "a memoized result was served or work was skipped")
      }
    }
    // start the next pass from a clean block store: the memos of this
    // pass's directory are never read again
    ctx.delete(in)
    ctx.delete(out)
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
