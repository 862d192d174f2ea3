package pipebench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators, one per workload. Each writes plain CSV files
  * plus the planted ground truth (files under `truth/`) and the generated sizes
  * (`sizes.txt`) into one directory, cached by (workload, size, seed): the
  * same arguments always produce byte-identical files. */
object Gen {

  /** Part of the input cache key: bump whenever a generator's output changes. */
  val Version = 2

  /** Generate into `dir` unless a complete copy is already there. */
  def ensure(workload: String, seed: Long, p: Params, dir: Path): Unit =
    if (!Files.exists(dir.resolve("_DONE"))) {
      val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
      Io.delete(tmp)
      generate(workload, seed, p, tmp)
      Io.write(tmp.resolve("sizes.txt"), sizesText(tmp))
      Io.write(tmp.resolve("_DONE"), "")
      Io.delete(dir)
      Files.move(tmp, dir)
    }

  def generate(workload: String, seed: Long, p: Params, dir: Path): Unit = workload match {
    case "camera_export" => camera(seed, p, dir)
    case "curate_batch" => curateBatch(seed, p, dir)
    case "curate_ingest" => curateIngest(seed, p, dir)
    case "render_queue" => renderQueue(seed, p, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def sizesText(dir: Path): String = {
    val s = Files.walk(dir)
    val files = try s.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_)).sortBy(_.toString)
      finally s.close()
    files.map { f =>
      val rows = if (f.toString.endsWith(".csv")) Io.lines(f).length - 1 else Io.lines(f).length
      s"${dir.relativize(f)} rows=$rows bytes=${Files.size(f)}"
    }.mkString("", "\n", "\n")
  }

  def truth(dir: Path, name: String): Seq[String] = Io.lines(dir.resolve("truth").resolve(name))

  private def csv(dir: Path, name: String, header: String, rows: Iterator[String]): Unit =
    Io.writeLines(dir.resolve(name), Iterator.single(header) ++ rows)

  private def truthFile(dir: Path, name: String, rows: Iterable[String]): Unit =
    Io.writeLines(dir.resolve("truth").resolve(name), rows.iterator)

  // ---- text corpora (curate_batch, curate_ingest) -------------------------

  val Domains = IndexedSeq("news", "code", "science", "forum")
  /** The ten most frequent common words: the curation stopword list. */
  val Stopwords: Seq[String] = (0 until 10).map(i => s"w$i")

  /** Zipf documents over four domain vocabularies plus a shared common
    * vocabulary; the edit operations plant exact and near duplicates,
    * benchmark contamination and low-quality text. */
  final class Texts(rng: Rng) {
    private val common = new Zipf(60, 1.0)
    private val domain = new Zipf(4000, 1.05)
    private val prefix = IndexedSeq("xn", "xc", "xs", "xf")

    def word(d: Int, rank: Int): String = prefix(d) + Integer.toString(rank, 36)

    def doc(d: Int): Array[String] =
      Array.fill(rng.between(40, 120)) {
        if (rng.chance(0.3)) s"w${common.draw(rng)}" else word(d, domain.draw(rng))
      }

    /** Copy of `src` with enough tokens replaced by fresh rare words that
      * the 3-shingle Jaccard lands in [0.8, 0.95]. */
    def nearDup(src: Array[String], d: Int): (Array[String], Double) = {
      var k = 1
      while (true) {
        val out = src.clone()
        rng.shuffle(src.indices).take(k).foreach(i => out(i) = word(d, 4000 + rng.int(100000)))
        val j = Texts.jaccard3(src, out)
        if (j >= 0.8 && j <= 0.95) return (out, j)
        if (j > 0.95) k += 1 else k = math.max(1, k - 1)
      }
      throw new IllegalStateException("unreachable")
    }

    def lowQuality(): Array[String] = Array.fill(rng.between(20, 30))(s"w${rng.int(5)}")

    def benchItem(): Array[String] =
      Array.fill(rng.between(12, 16))("q" + Integer.toString(rng.int(60000), 36))

    /** `src` with a 10-token span of `item` spliced in: shares 8-grams with
      * the benchmark set. */
    def contaminate(src: Array[String], item: Array[String]): Array[String] = {
      val at = rng.int(src.length + 1)
      val start = rng.int(item.length - 10 + 1)
      src.take(at) ++ item.slice(start, start + 10) ++ src.drop(at)
    }

    /** Five distinct rare words of `src` (domain rank >= 300), as a search
      * that should find it. */
    def query(src: Array[String]): String = {
      val rare = src.distinct.filter(w => w.startsWith("x") &&
        Integer.parseInt(w.substring(2), 36) >= 300)
      val pool = if (rare.length >= 5) rare else src.distinct
      rng.shuffle(pool.toIndexedSeq).take(5).mkString(" ")
    }
  }

  object Texts {
    def jaccard3(a: Array[String], b: Array[String]): Double = {
      def sh(x: Array[String]) = x.sliding(3).map(_.mkString(" ")).toSet
      val (sa, sb) = (sh(a), sh(b))
      (sa intersect sb).size.toDouble / (sa union sb).size
    }
  }

  private def curateBatch(seed: Long, p: Params, dir: Path): Unit = {
    val rng = new Rng(seed, "curate_batch")
    val t = new Texts(rng)
    def corpus(n: Int, name: String, withTruth: Boolean): Unit = {
      val nExact = n * 5 / 100
      val nNear = n * 10 / 100
      val nCont = n / 100
      val nLow = n * 5 / 100
      val left = mutable.Map("exact" -> nExact, "near" -> nNear, "cont" -> nCont, "low" -> nLow)
      val bench = Array.fill(p.int("bench_items"))(t.benchItem())
      val texts = ArrayBuffer[Array[String]]()
      val unused = ArrayBuffer[Int]() // unique clean docs not yet copied
      val rows = ArrayBuffer[String]()
      val truth = mutable.Map[String, ArrayBuffer[String]]()
      def add(k: String, v: String): Unit = truth.getOrElseUpdate(k, ArrayBuffer()) += v
      for (id <- 1 to n) {
        val remaining = n - id + 1
        val planted = left.values.sum
        val kind =
          if (id <= n / 4 || rng.int(remaining) >= planted) "unique"
          else {
            var r = rng.int(planted)
            left.keys.toSeq.sorted.find { k => r -= left(k); r < 0 }.get
          }
        if (kind != "unique") left(kind) -= 1
        val d = rng.int(Domains.length)
        val words = kind match {
          case "unique" =>
            unused += texts.length
            add("unique.txt", id.toString)
            t.doc(d)
          case "exact" | "near" =>
            val src = unused.remove(rng.int(unused.length))
            val srcId = src + 1
            if (kind == "exact") { add("exact_dups.txt", s"$id $srcId"); texts(src) }
            else {
              val (w, j) = t.nearDup(texts(src), d)
              add("near_dups.txt", f"$id $srcId $j%.4f")
              w
            }
          case "cont" =>
            add("contaminated.txt", id.toString)
            t.contaminate(t.doc(d), bench(rng.int(bench.length)))
          case "low" =>
            add("low_quality.txt", id.toString)
            t.lowQuality()
        }
        texts += words
        rows += s"$id,${Domains(d)},${words.mkString(" ")}"
      }
      // eight part files for the corpus, as a crawl lands: the read is
      // eight-way parallel from the first stage
      val parts = if (name == "docs") 8 else 1
      rows.grouped((rows.length + parts - 1) / parts).zipWithIndex.foreach { case (part, i) =>
        csv(dir, f"$name/part-$i%02d.csv", "doc_id,domain,text", part.iterator)
      }
      csv(dir, s"${name}_bench.csv", "text", bench.iterator.map(_.mkString(" ")))
      if (withTruth)
        Seq("unique.txt", "exact_dups.txt", "near_dups.txt", "contaminated.txt", "low_quality.txt")
          .foreach(f => truthFile(dir, f, truth.getOrElse(f, Nil)))
    }
    corpus(p.int("docs"), "docs", withTruth = true)
    corpus(p.int("warmup_docs"), "warmup", withTruth = false)
  }

  private def curateIngest(seed: Long, p: Params, dir: Path): Unit = {
    val rng = new Rng(seed, "curate_ingest")
    val t = new Texts(rng)
    val (segs, segDocs) = (p.int("history_segments"), p.int("segment_docs"))
    val (batches, batchDocs, searches) = (p.int("batches"), p.int("batch_docs"), p.int("searches"))
    val texts = mutable.Map[Long, Array[String]]()
    def row(id: Long, w: Array[String]) = s"$id,${w.mkString(" ")}"
    val history = (1L to segs.toLong * segDocs).map { id => texts(id) = t.doc(rng.int(4)); id }
    history.grouped(segDocs).zipWithIndex.foreach { case (ids, s) =>
      csv(dir, s"history_$s.csv", "doc_id,text", ids.iterator.map(id => row(id, texts(id))))
    }
    val sources = rng.shuffle(history).iterator
    val searchable = ArrayBuffer[Long](history: _*)
    val repeats = ArrayBuffer[String]()
    val queries = ArrayBuffer[String]()
    var next = history.length.toLong + 1
    for (b <- 0 until batches) {
      val nRepeat = batchDocs * 30 / 100
      val kinds = rng.shuffle(IndexedSeq.fill(batchDocs - nRepeat)("fresh") ++
        IndexedSeq.tabulate(nRepeat)(i => if (i % 2 == 0) "exact" else "near"))
      val rows = kinds.map { k =>
        val id = next
        next += 1
        val w = k match {
          case "fresh" => searchable += id; t.doc(rng.int(4))
          case "exact" =>
            val src = sources.next()
            repeats += s"$id $src exact"
            texts(src)
          case "near" =>
            val src = sources.next()
            val (w, j) = t.nearDup(texts(src), 0)
            repeats += f"$id $src $j%.4f"
            w
        }
        texts(id) = w
        row(id, w)
      }
      csv(dir, s"batch_$b.csv", "doc_id,text", rows.iterator)
      for (q <- 0 until searches) {
        val src = searchable(rng.int(searchable.length))
        queries += s"$b,${b * searches + q},$src,${t.query(texts(src))}"
      }
    }
    csv(dir, "queries.csv", "batch,qid,source,text", queries.iterator)
    truthFile(dir, "repeats.txt", repeats)
    val warm = (1L to 200L).map(id => row(id + 1000000000L, t.doc(rng.int(4))))
    csv(dir, "warmup.csv", "doc_id,text", warm.iterator)
    csv(dir, "bench.csv", "text", Iterator.fill(p.int("bench_items"))(t.benchItem().mkString(" ")))
  }

  // ---- camera_export -------------------------------------------------------

  private def camera(seed: Long, p: Params, dir: Path): Unit = {
    val rng = new Rng(seed, "camera_export")
    val maps = p.int("maps")
    val newMaps = math.max(1, maps * 3 / 100)
    val names = (0 until maps + newMaps).map(i => f"map_$i%04d")
    val scene = (i: Int) => f"scene_${i / 8}%03d"
    val changed = rng.shuffle(0 until maps).take(maps / 4).toSet
    val hdr = "scene_name,map_name,map_path,navmesh_baked,navmesh_hash,navmesh_auto_scale," +
      "navmesh_bounds,metadata,version,created_at"
    def mapRow(i: Int, version: Int, day: Int) =
      s"${scene(i)},${names(i)},/Game/Maps/${names(i)},true,h${rng.int(1 << 30)},true,," +
        s"tier${rng.int(3)},$version,2026-01-${10 + day} 00:00:00"
    csv(dir, "catalog.csv", hdr, (0 until maps).iterator.map(mapRow(_, 1, 0)))
    csv(dir, "catalog_update.csv", hdr,
      (changed.toSeq.sorted.map(mapRow(_, 2, 5)) ++ (maps until maps + newMaps).map(mapRow(_, 1, 5))).iterator)
    csv(dir, "map_state.csv", "map_name,status,render_count",
      (0 until maps).iterator.map(i => s"${names(i)},${Seq("ready", "rendering", "done")(rng.int(3))},${rng.int(20)}"))
    csv(dir, "actors.csv", "map_name,x,y,z,ex,ey,ez", names.indices.iterator.flatMap { i =>
      Iterator.fill(18) {
        f"${names(i)},${rng.gaussian() * 4000}%.2f,${rng.gaussian() * 4000}%.2f,${rng.gaussian() * 300}%.2f," +
          f"${50 + rng.int(400)},${50 + rng.int(400)},${20 + rng.int(100)}"
      }
    })
    // navmesh samples: 1-4 islands of points per map; the pass set keeps
    // every unchanged map's points and redraws the rest. Sample counts
    // spread over [min_points, max_points] by map index, not by seed, so
    // every seed analyses the same number of points.
    val (lo, hi) = (p.int("min_points"), p.int("max_points"))
    def samples(i: Int): Seq[String] = {
      val islands = Array.fill(rng.between(1, 4))((rng.gaussian() * 5000, rng.gaussian() * 5000))
      (0 until lo + (i * 61) % (hi - lo + 1)).map { k =>
        val (cx, cy) = islands(k % islands.length)
        f"${names(i)},$k,${cx + rng.gaussian() * 400}%.2f,${cy + rng.gaussian() * 400}%.2f,${rng.gaussian() * 50}%.2f"
      }
    }
    val before = (0 until maps).map(samples)
    val after = names.indices.map(i => if (i < maps && !changed(i)) before(i) else samples(i))
    csv(dir, "navmesh_setup.csv", "map_name,point_id,x,y,z", before.iterator.flatten)
    csv(dir, "navmesh_pass.csv", "map_name,point_id,x,y,z", after.iterator.flatten)
    csv(dir, "jobs.csv", "sequence_id,map_name,seed", (0 until p.int("sequences")).iterator.map { s =>
      f"seq_$s%04d,${names(rng.int(names.length))},${rng.int(1 << 30)}"
    })
    truthFile(dir, "unchanged_maps.txt", (0 until maps).filterNot(changed).map(names))
    // warm-up: one sequence (the pass itself takes the first two maps)
    csv(dir, "warmup_jobs.csv", "sequence_id,map_name,seed",
      Iterator("warm_0,map_0000,1"))
  }

  // ---- render_queue --------------------------------------------------------

  /** Task lifecycles interleaved over a pool of concurrently active tasks:
    * queued, assigned, rendering, then completed or (5%) failed; a failed
    * attempt goes back through assigned/rendering, at most 6 attempts (the
    * state machine requeues up to 5 retries). Heartbeats from 64 workers
    * ride every 50th event slot. Columns: idx,task,status,worker,error. */
  private def renderQueue(seed: Long, p: Params, dir: Path): Unit = {
    val rng = new Rng(seed, "render_queue")
    def lifecycle(name: String, tasks: Int, prefix: String): Unit = {
      val rows = ArrayBuffer[String]()
      val beats = ArrayBuffer[String]()
      val finals = ArrayBuffer[String]()
      val pool = ArrayBuffer[(String, Int, Int)]() // task, step, attempt
      var started = 0
      var idx = 0L
      def refill(): Unit = while (pool.length < 256 && started < tasks) {
        pool += ((f"$prefix$started%06d", 0, 0)); started += 1
      }
      refill()
      while (pool.nonEmpty) {
        val i = rng.int(pool.length)
        val (task, step, attempt) = pool(i)
        val worker = s"w${rng.int(64)}"
        val (status, w, err, next) = step match {
          case 0 => ("queued", "", "", Some((task, 1, attempt)))
          case 1 => ("assigned", worker, "", Some((task, 2, attempt)))
          case 2 => ("rendering", worker, "", Some((task, 3, attempt)))
          case _ =>
            if (rng.chance(0.05)) {
              val a = attempt + 1
              ("failed", worker, s"err$a", if (a <= 5) Some((task, 1, a)) else None)
            } else ("completed", worker, "", None)
        }
        rows += s"$idx,$task,$status,$w,$err"
        next match {
          case Some(n) => pool(i) = n
          case None =>
            finals += s"$task $status"
            pool.remove(i)
            refill()
        }
        idx += 1
        if (idx % 50 == 0) { beats += s"$idx,w${(idx / 50) % 64}"; }
      }
      csv(dir, s"${name}_events.csv", "idx,task,status,worker,error", rows.iterator)
      csv(dir, s"${name}_beats.csv", "idx,worker", beats.iterator)
      truthFile(dir, s"${name}_final.txt", finals)
    }
    lifecycle("backlog", p.int("backlog_tasks"), "b")
    lifecycle("steady", p.int("steady_tasks"), "s")
    lifecycle("warmup", 200, "u")
  }
}

/** Workload size parameters, `key=value` pairs passed on the command line. */
final case class Params(values: Map[String, String]) {
  def int(k: String): Int = values.getOrElse(k, sys.error(s"missing size parameter $k")).toInt
  def double(k: String): Double = values.getOrElse(k, sys.error(s"missing size parameter $k")).toDouble
  /** Cache key: the sorted parameters. */
  def tag: String = values.toSeq.sorted.map { case (k, v) => s"$k$v" }.mkString("_")
}
