package graft.operators

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The SESSION-FREE serving artifact (r14 verdict #2): everything the
  * codes tier needs — coarse centroids, PQ codebooks, the per-list
  * (ids, codes) layout, the encoding variant, and the persisted
  * calibration — as flat binary files under `<indexPath>/servepack/`,
  * openable with NO SparkSession. The exact-rerank vectors come from the
  * [[AnnVecStore]] sidecar's own session-free open.
  *
  * MAPPED SINCE r16 (r15 verdict #1): [[open]] no longer heap-loads the
  * ids/codes — the segment files are memory-MAPPED ([[MappedCodes]]),
  * so the resident footprint is ~flat in corpus size (page cache holds
  * the probed lists) and total rows are a Long: the old heap tier's
  * `total·m ≤ Int.MaxValue` ceiling (~268M rows at m=8,
  * AnnLocal.scala's capacity note) is gone on the pack path — the 100×
  * step toward 1B-row session-free interactive serving. The search loop
  * is the SAME [[AnnLocalIndex]] on pre-split absolute-read runs, so
  * answers stay row-identical to the heap tier (AnnCodesLocalSpec).
  *
  * SEGMENTED SINCE r16: [[save]] is distributed — executors write
  * per-(list, id)-range sorted segment pairs in parallel (the
  * [[AnnVecStore]] GRAFTVS2 move), the driver commits `meta.txt` last
  * via write-new-then-rename, and every data file is GENERATION-stamped:
  * a torn re-save leaves the previous committed pack fully intact (the
  * new generation's files are unreferenced orphans), and the post-commit
  * GC deletes superseded files only after the new meta is live —
  * already-open snapshots keep their mmaps (POSIX unlink semantics).
  *
  * Layout (all big-endian, as DataOutputStream writes):
  *  - `centroids-<gen>.bin` — int count, then per centroid: int id +
  *    int dim + dim doubles
  *  - `codebooks-<gen>.bin` — ints m, k, dsub, then m·k·dsub doubles
  *  - `lists-<gen>.bin`     — int nRuns, then nRuns × (int listId,
  *    int segIdx, long rows): the per-segment run table in global
  *    (segment, list) scan order — what lets a list span segments and
  *    the open place every run without reading data
  *  - `seg-<gen>-pNNNNN.ids.bin` / `.codes.bin` — rows longs / rows·m
  *    bytes, sorted by (list, id) within and across segments
  *  - `meta.txt` — `GRAFTSP2 <total> <dim> <m> <residual> <gen>`, a
  *    `files <centroids> <codebooks> <lists>` line, the `cal .../nocal`
  *    line, then zero or more `seg <ids> <codes>` (row counts live in
  *    the run table), `delta <file> <rows>`, and `tomb <file> <rows>`
  *    lines
  *
  * Legacy `GRAFTSP1` packs (single ids.bin/codes.bin, int offsets) open
  * unchanged — mapped, as a one-segment store.
  *
  * DELTAS (r14 verdict #3): an [[AnnIvfPq.appendVectors]] batch lands as
  * one `delta-<uuid>.bin` file — `rows` × (long id, int list, m code
  * bytes) — plus a meta swap: O(batch), never a pack rebuild. [[open]]
  * loads deltas as a small heap OVERLAY next to the mapped base.
  * TOMBSTONES (r15 verdict #2): an [[AnnIvfPq.deleteVectors]] batch
  * lands as one `tomb-<uuid>.bin` file of sorted ids + a meta swap; the
  * search loop excludes them, and compaction folds them away physically.
  * All meta swaps run under the [[AnnArtifactLock]] writer fence.
  */
object AnnServePack {

  private def dirOf(path: String) = new HPath(s"$path/servepack")

  /** One base run: `rows` of coarse list `listId` inside segment
    * `segIdx` (in global scan order).
    */
  private final case class RunMeta(listId: Int, segIdx: Int, rows: Long)

  /** Does a committed serve pack exist under `path`? */
  def exists(conf: Configuration, path: String): Boolean =
    FileSystem.get(URI.create(path), conf)
      .exists(new HPath(dirOf(path), "meta.txt"))

  /** Build + persist the pack from a `saveIndex`'d index whose path
    * carries a committed vecstore sidecar. DISTRIBUTED: one range
    * repartition on (list, id), then every partition writes its own
    * sorted segment pair from the executor that holds it (deterministic
    * names from the partition index — task retries overwrite their own
    * files; run with speculation off, as any direct-filesystem writer
    * requires). Tombstoned rows are already excluded ([[AnnIvfPq
    * .loadIndex]]), so a re-save is also the tombstone compaction.
    * Returns the packed row count. No row cap: the mapped open serves
    * any total the filesystem holds.
    */
  def save(
      spark: SparkSession,
      path: String,
      targetSegmentBytes: Long = 1L << 30): Long = {
    require(AnnVecStore.exists(spark, path),
      s"no vecstore sidecar at $path — the pack's rerank tier needs it; " +
        "run AnnIvfPq.saveVectorStore first")
    val fs = FileSystem.get(
      URI.create(path), spark.sparkContext.hadoopConfiguration)
    val dir = dirOf(path)
    AnnArtifactLock.withLock(fs, dir) {
      val (coded, centroids, codebooks) = AnnIvfPq.loadIndex(spark, path)
      val residual = AnnIvfPq.isResidual(spark, path)
      val cal = AnnIvfPq.loadCalibration(spark, path)
      val cents = AnnLocal.collectCentroids(centroids)
      AnnLocal.requireByteCodes(codebooks)
      val m = codebooks.length
      val dim = if (cents.isEmpty) 0 else cents(0)._2.length
      val gen = java.util.UUID.randomUUID().toString.take(8)

      def out(name: String) = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(
          fs.create(new HPath(dir, name), true), 1 << 20))
      val centroidsFile = s"centroids-$gen.bin"
      locally {
        val o = out(centroidsFile)
        try {
          o.writeInt(cents.length)
          cents.foreach { case (cid, cv) =>
            o.writeInt(cid); o.writeInt(cv.length); cv.foreach(o.writeDouble)
          }
        } finally o.close()
      }
      val codebooksFile = s"codebooks-$gen.bin"
      locally {
        val o = out(codebooksFile)
        try {
          val k = codebooks(0).length
          val dsub = codebooks(0)(0).length
          o.writeInt(m); o.writeInt(k); o.writeInt(dsub)
          codebooks.foreach(_.foreach { cv =>
            require(cv.length == dsub, "ragged codebook")
            cv.foreach(o.writeDouble)
          })
        } finally o.close()
      }

      val prepared = coded.select(col("vec_id").cast("long").as("_id"),
        col("_centroid").cast("int").as("_l"), col("codes").cast("array<int>"))
      val n = prepared.count()
      val (segLines, runLines, total) =
        if (n == 0L) (Seq.empty[String], Seq.empty[RunMeta], 0L)
        else {
          val rowBytes = 8L + m
          val nSegs = math.max(1L, math.min(
            (n * rowBytes + targetSegmentBytes - 1) / targetSegmentBytes,
            1L << 16)).toInt
          val confSer = new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration)
          val pathStr = path
          val mLoc = m
          val genLoc = gen
          import spark.implicits._
          // (partition, rows, per-list run counts in scan order)
          val stats: Array[(Int, Long, Seq[(Int, Long)])] = prepared
            .repartitionByRange(nSegs, col("_l"), col("_id"))
            .sortWithinPartitions(col("_l"), col("_id"))
            .as[(Long, Int, Array[Int])]
            .mapPartitions { it =>
              if (it.isEmpty) Iterator.empty
              else {
                val part = org.apache.spark.TaskContext.getPartitionId()
                val taskFs = FileSystem.get(URI.create(pathStr), confSer.value)
                val segDir = new HPath(s"$pathStr/servepack")
                val stem = f"seg-$genLoc-p$part%05d"
                val idsOut = new java.io.DataOutputStream(
                  new java.io.BufferedOutputStream(
                    taskFs.create(new HPath(segDir, s"$stem.ids.bin"), true), 1 << 20))
                val codesOut = new java.io.BufferedOutputStream(
                  taskFs.create(new HPath(segDir, s"$stem.codes.bin"), true), 1 << 20)
                var rows = 0L
                val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
                var curList = Int.MinValue
                var curRows = 0L
                var prevId = Long.MinValue
                try {
                  it.foreach { case (id, l, cs) =>
                    require(cs.length == mLoc,
                      s"codes length ${cs.length} != m=$mLoc at id $id")
                    require(l > curList || (l == curList && id > prevId),
                      s"pack segment rows out of (list, id) order at id $id " +
                        "- duplicate vec_ids in the coded table?")
                    if (l != curList) {
                      if (curRows > 0L) runs += ((curList, curRows))
                      curList = l; curRows = 0L
                    }
                    prevId = id
                    idsOut.writeLong(id)
                    var j = 0
                    while (j < mLoc) { codesOut.write(cs(j)); j += 1 }
                    curRows += 1L
                    rows += 1L
                  }
                  if (curRows > 0L) runs += ((curList, curRows))
                } finally { idsOut.close(); codesOut.close() }
                Iterator.single((part, rows, runs.toSeq))
              }
            }
            .collect()
          val ordered = stats.sortBy(_._1)
          val segNames = ordered.map(s => f"seg-$gen-p${s._1}%05d")
          val runMetas = ordered.zipWithIndex.flatMap { case ((_, _, runs), si) =>
            runs.map { case (l, r) => RunMeta(l, si, r) }
          }
          (segNames.toIndexedSeq.map(s => s"seg $s.ids.bin $s.codes.bin"),
            runMetas.toIndexedSeq, ordered.map(_._2).sum)
        }

      val listsFile = s"lists-$gen.bin"
      locally {
        val o = out(listsFile)
        try {
          o.writeInt(runLines.length)
          runLines.foreach { r =>
            o.writeInt(r.listId); o.writeInt(r.segIdx); o.writeLong(r.rows)
          }
        } finally o.close()
      }

      val calLine = cal match {
        case Some(c) =>
          s"cal ${c.targetRecall} ${c.nprobe} ${c.refine} ${c.measuredRecall} " +
            s"${c.corpusSize} ${c.topK} ${c.metTarget} ${c.epoch}"
        case None => "nocal"
      }
      commitMeta(fs, path,
        Seq(s"GRAFTSP2 $total $dim $m $residual $gen",
          s"files $centroidsFile $codebooksFile $listsFile",
          calLine) ++ segLines)
      // GC superseded generations' files (old segments, deltas, tombs,
      // centroid/codebook/list bins) — only AFTER the new meta is live,
      // so a crash anywhere above leaves the previous pack untouched.
      // Open snapshots keep serving: their mmaps survive the unlink.
      val referenced = Set(centroidsFile, codebooksFile, listsFile,
        "meta.txt", "commit.lock") ++
        segLines.flatMap(_.split("\\s+").drop(1))
      fs.listStatus(dir).foreach { st =>
        if (st.isFile && !referenced.contains(st.getPath.getName))
          fs.delete(st.getPath, false): Unit
      }
      total
    }
  }

  private def commitMeta(
      fs: FileSystem, path: String, lines: Seq[String]): Unit = {
    val dir = dirOf(path)
    if (!fs.exists(dir)) { fs.mkdirs(dir); () }
    val tmp = new HPath(dir, "meta_new.txt")
    val o = fs.create(tmp, true)
    try o.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally o.close()
    val dest = new HPath(dir, "meta.txt")
    fs.delete(dest, false)
    require(fs.rename(tmp, dest), s"servepack meta commit rename failed at $path")
    AnnIvfPq.commitServe(fs, path)
  }

  private def readLines(fs: FileSystem, p: HPath): Seq[String] = {
    val in = fs.open(p)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      .split('\n').toIndexedSeq.map(_.trim).filter(_.nonEmpty)
    finally in.close()
  }

  /** Open the pack with NO SparkSession: flat-file reads for the small
    * metadata (centroids, codebooks, run table), memory-MAPPED segments
    * for the ids/codes, the vecstore's session-free open for the rerank
    * mmaps. None when no committed pack exists. The returned index is
    * the SAME class every serve tier runs — identical search loop,
    * identical answers.
    */
  def open(
      path: String,
      conf: Configuration = new Configuration()
  ): Option[(AnnLocalIndex, Option[AnnCalibration])] = {
    val fs = FileSystem.get(URI.create(path), conf)
    val dir = dirOf(path)
    val metaPath = new HPath(dir, "meta.txt")
    if (!fs.exists(metaPath)) return None
    val lines = readLines(fs, metaPath)
    val head = lines.head.split("\\s+")
    val legacy = head(0) == "GRAFTSP1"
    require(legacy || head(0) == "GRAFTSP2",
      s"unrecognized servepack meta at $path: '${lines.head}'")
    require(head.length == (if (legacy) 5 else 6),
      s"unrecognized servepack meta at $path: '${lines.head}'")
    val total = head(1).toLong
    val m = head(3).toInt
    val residual = head(4).toBoolean
    val (centroidsFile, codebooksFile, listsFileOpt, calLine, tailLines) =
      if (legacy)
        ("centroids.bin", "codebooks.bin", None, lines(1), lines.drop(2))
      else {
        val files = lines(1).split("\\s+")
        require(files.length == 4 && files(0) == "files",
          s"malformed servepack files line at $path: '${lines(1)}'")
        (files(1), files(2), Option(files(3)), lines(2), lines.drop(3))
      }
    val cal: Option[AnnCalibration] = calLine.split("\\s+") match {
      case Array("nocal") => None
      case Array("cal", tr, np, rf, mr, cs, tk, mt, ep) =>
        Some(AnnCalibration(tr.toDouble, np.toInt, rf.toInt, mr.toDouble,
          cs.toLong, ep, topK = tk.toInt, metTarget = mt.toBoolean))
      case other => throw new IllegalStateException(
        s"malformed servepack calibration line at $path: '${other.mkString(" ")}'")
    }
    val segPairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val deltaMetas = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val tombMetas = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    tailLines.foreach { l =>
      val p = l.split("\\s+")
      p(0) match {
        case "seg" =>
          require(p.length == 3, s"malformed servepack seg line at $path: '$l'")
          segPairs += ((p(1), p(2)))
        case "delta" =>
          require(p.length == 3, s"malformed servepack delta line at $path: '$l'")
          deltaMetas += ((p(1), p(2).toLong))
        case "tomb" =>
          require(p.length == 3, s"malformed servepack tomb line at $path: '$l'")
          tombMetas += ((p(1), p(2).toLong))
        case other => throw new IllegalStateException(
          s"malformed servepack meta line at $path: '$l' ($other)")
      }
    }
    if (legacy && total > 0L) segPairs += (("ids.bin", "codes.bin"))

    def in(name: String) = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(new HPath(dir, name)), 1 << 20))
    val cents = {
      val i = in(centroidsFile)
      try {
        val n = i.readInt()
        Array.fill(n) {
          val cid = i.readInt()
          val d = i.readInt()
          val cv = new Array[Double](d)
          var j = 0
          while (j < d) { cv(j) = i.readDouble(); j += 1 }
          (cid, cv)
        }
      } finally i.close()
    }
    val codebooks = {
      val i = in(codebooksFile)
      try {
        val mm = i.readInt(); val k = i.readInt(); val dsub = i.readInt()
        require(mm == m, s"servepack codebooks m=$mm != meta m=$m at $path")
        Array.fill(mm)(Array.fill(k) {
          val cv = new Array[Double](dsub)
          var j = 0
          while (j < dsub) { cv(j) = i.readDouble(); j += 1 }
          cv
        })
      } finally i.close()
    }
    // run table: (listId, segIdx, rows) in global scan order. Legacy v1
    // derives it from the int-offset lists.bin over its one segment.
    val runTable: Seq[RunMeta] =
      if (legacy) {
        if (total == 0L) Seq.empty
        else {
          val i = in("lists.bin")
          try {
            val nLists = i.readInt()
            val listIds = Array.fill(nLists)(i.readInt())
            val offs = Array.fill(nLists + 1)(i.readInt())
            require(offs(nLists).toLong == total,
              s"servepack offsets end at ${offs(nLists)}, expected $total at $path")
            listIds.toIndexedSeq.zipWithIndex.map { case (l, li) =>
              RunMeta(l, 0, (offs(li + 1) - offs(li)).toLong)
            }.filter(_.rows > 0L)
          } finally i.close()
        }
      } else {
        val i = in(listsFileOpt.get)
        try {
          val nRuns = i.readInt()
          IndexedSeq.fill(nRuns)(RunMeta(i.readInt(), i.readInt(), i.readLong()))
        } finally i.close()
      }
    require(runTable.iterator.map(_.rows).sum == total,
      s"servepack run table rows != meta total at $path")

    // map the segments and pre-split every run at the mapping-window
    // boundaries, so the scan loop's accessors are pure absolute reads
    val segMaps: IndexedSeq[((Array[java.nio.MappedByteBuffer], Long),
      (Array[java.nio.MappedByteBuffer], Long))] =
      segPairs.toIndexedSeq.zipWithIndex.map { case ((idsF, codesF), si) =>
        val segRows = runTable.filter(_.segIdx == si).map(_.rows).sum
        val idsLocal = MmapIo.localFile(fs, new HPath(dir, idsF))
        val codesLocal = MmapIo.localFile(fs, new HPath(dir, codesF))
        (MmapIo.mapRows(idsLocal, 8L, segRows),
          MmapIo.mapRows(codesLocal, math.max(m.toLong, 1L), segRows))
      }
    val segCursor = new Array[Long](segPairs.length)
    val baseRunsB = scala.collection.mutable.HashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[CodesRun]]
    runTable.foreach { r =>
      val ((idChunks, idRpc), (codeChunks, codeRpc)) = segMaps(r.segIdx)
      var start = segCursor(r.segIdx) // row offset within the segment
      segCursor(r.segIdx) = start + r.rows
      var remaining = r.rows
      val buf = baseRunsB.getOrElseUpdate(r.listId,
        scala.collection.mutable.ArrayBuffer.empty[CodesRun])
      while (remaining > 0L) {
        // largest piece not crossing either mapping window's boundary
        val idLeft = idRpc - (start % idRpc)
        val codeLeft = codeRpc - (start % codeRpc)
        val piece = math.min(remaining, math.min(idLeft, codeLeft))
        val idBuf = idChunks((start / idRpc).toInt)
        val codeBuf = codeChunks((start / codeRpc).toInt)
        buf += new MappedCodesRun(
          idBuf, ((start % idRpc) * 8L).toInt,
          codeBuf, ((start % codeRpc) * m).toInt,
          piece.toInt, m)
        start += piece
        remaining -= piece
      }
    }
    val baseRuns: Map[Int, Array[CodesRun]] =
      baseRunsB.iterator.map { case (l, b) => l -> b.toArray }.toMap

    // deltas → small heap overlay, grouped per list
    val overlay: Option[HeapCodes] =
      if (deltaMetas.isEmpty) None
      else {
        val totalDelta = deltaMetas.iterator.map(_._2).sum
        require(totalDelta <= Int.MaxValue && totalDelta * m <= Int.MaxValue,
          s"servepack holds $totalDelta delta rows x $m code bytes — above " +
            "the heap-overlay limit; run AnnIvfPq.compactServingArtifacts")
        val nD = totalDelta.toInt
        val dIds = new Array[Long](nD)
        val dLists = new Array[Int](nD)
        val dCodes = new Array[Byte](nD * m)
        var w = 0
        deltaMetas.foreach { case (name, rows) =>
          val i = in(name)
          try {
            var r = 0L
            while (r < rows) {
              dIds(w) = i.readLong()
              dLists(w) = i.readInt()
              var j = 0
              while (j < m) { dCodes(w * m + j) = i.readByte(); j += 1 }
              w += 1; r += 1
            }
          } finally i.close()
        }
        // counting sort by list → contiguous per-list overlay
        val counts = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
        dLists.foreach(l => counts(l) = counts.getOrElse(l, 0) + 1)
        val listIds = counts.keys.toArray.sorted
        val listIndex = listIds.zipWithIndex.toMap
        val offsets = new Array[Int](listIds.length + 1)
        listIds.zipWithIndex.foreach { case (l, i2) =>
          offsets(i2 + 1) = offsets(i2) + counts(l)
        }
        val cursor = offsets.clone()
        val oIds = new Array[Long](nD)
        val oCodes = new Array[Byte](nD * m)
        var i2 = 0
        while (i2 < nD) {
          val li = listIndex(dLists(i2))
          val p = cursor(li)
          cursor(li) = p + 1
          oIds(p) = dIds(i2)
          System.arraycopy(dCodes, i2 * m, oCodes, p * m, m)
          i2 += 1
        }
        Some(new HeapCodes(listIndex, offsets, oIds, oCodes, m))
      }

    // tombstones: union of all tomb files, sorted + deduped (the search
    // loop binary-probes this set per candidate — empty = zero cost)
    val tombs: Array[Long] =
      if (tombMetas.isEmpty) Array.emptyLongArray
      else {
        val totalT = tombMetas.iterator.map(_._2).sum
        require(totalT <= Int.MaxValue,
          s"servepack holds $totalT tombstones — compact before serving")
        val b = new Array[Long](totalT.toInt)
        var w = 0
        tombMetas.foreach { case (name, rows) =>
          val i = in(name)
          try {
            var r = 0L
            while (r < rows) { b(w) = i.readLong(); w += 1; r += 1 }
          } finally i.close()
        }
        java.util.Arrays.sort(b)
        b.distinct
      }

    val vecs = AnnVecStore.openStandalone(path, conf).getOrElse(
      throw new IllegalStateException(
        s"servepack at $path has no committed vecstore sidecar beside it — " +
          "the exact-rerank tier cannot open; re-run saveVectorStore + " +
          "AnnServePack.save"))
    val totalWithDeltas = total + deltaMetas.iterator.map(_._2).sum
    Some((new AnnLocalIndex(cents,
      new MappedCodes(totalWithDeltas, baseRuns, overlay), vecs,
      codebooks, residual, vecs.dim, m, tombs), cal))
  }

  /** Fold an already-assigned-and-encoded batch into the pack as one
    * delta file + a meta swap — O(batch), no pack rebuild (the
    * [[AnnIvfPq.appendVectors]] step). `codedBatch` is the (idCol,
    * _centroid, codes) frame the append wrote to the coded table; it
    * streams through the driver (batch-scale). Runs under the
    * [[AnnArtifactLock]] writer fence (r15 advice: the meta
    * read-modify-write was unguarded). Returns rows written.
    */
  def appendDelta(
      spark: SparkSession,
      path: String,
      codedBatch: org.apache.spark.sql.DataFrame,
      idCol: String = "vec_id"): Long = {
    val fs = FileSystem.get(
      URI.create(path), spark.sparkContext.hadoopConfiguration)
    val dir = dirOf(path)
    AnnArtifactLock.withLock(fs, dir) {
      val metaPath = new HPath(dir, "meta.txt")
      require(fs.exists(metaPath),
        s"no committed servepack at $path to append to — run AnnServePack.save")
      val metaLines = readLines(fs, metaPath)
      val m = metaLines.head.split("\\s+")(3).toInt
      val name = s"delta-${java.util.UUID.randomUUID()}.bin"
      val o = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        fs.create(new HPath(dir, name), true), 1 << 20))
      var rows = 0L
      try {
        import scala.jdk.CollectionConverters._
        codedBatch
          .select(col(idCol).cast("long"), col("_centroid").cast("int"),
            col("codes").cast("array<int>"))
          .toLocalIterator().asScala.foreach { r =>
            o.writeLong(r.getLong(0))
            o.writeInt(r.getInt(1))
            val cs = r.getSeq[Int](2)
            require(cs.length == m, s"delta codes length ${cs.length} != m=$m")
            var j = 0
            while (j < m) { o.writeByte(cs(j)); j += 1 }
            rows += 1
          }
      } finally o.close()
      if (rows == 0L) { fs.delete(new HPath(dir, name), false); 0L }
      else { commitMeta(fs, path, metaLines :+ s"delta $name $rows"); rows }
    }
  }

  /** Record a tombstone batch ([[AnnIvfPq.deleteVectors]]) as one sorted
    * flat file + a meta swap — O(batch). The open's search loop excludes
    * these ids; [[save]] (via compaction) folds them away physically.
    */
  def appendTombstones(
      conf: Configuration, path: String, ids: Array[Long]): Long = {
    if (ids.isEmpty) return 0L
    val fs = FileSystem.get(URI.create(path), conf)
    val dir = dirOf(path)
    AnnArtifactLock.withLock(fs, dir) {
      val metaPath = new HPath(dir, "meta.txt")
      require(fs.exists(metaPath),
        s"no committed servepack at $path to tombstone — run AnnServePack.save")
      val metaLines = readLines(fs, metaPath)
      val sorted = ids.clone()
      java.util.Arrays.sort(sorted)
      val name = s"tomb-${java.util.UUID.randomUUID()}.bin"
      val o = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        fs.create(new HPath(dir, name), true), 1 << 20))
      try sorted.foreach(o.writeLong)
      finally o.close()
      commitMeta(fs, path, metaLines :+ s"tomb $name ${sorted.length}")
      sorted.length.toLong
    }
  }
}
