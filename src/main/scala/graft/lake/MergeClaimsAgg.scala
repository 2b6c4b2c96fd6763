package graft.lake

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Per-file merge-claim state for ONE aggregation pass (the fused merge,
  * r14 / VERDICT r13 #4): for every target file touched by the merge
  * join, the row identities a clause CLAIMED (the DV bitmap input) plus
  * exact multi-match bookkeeping for the ambiguity error.
  *
  * Shape contract (the 100 TB guard): everything held per file is a
  * compressed Roaring bitmap or a map that only has entries for
  * GENUINELY duplicated identities (the error path) — never raw matched
  * rows. The driver receives one blob per touched file and partition:
  * the claims plus the `seen` bitmaps (≈ the claims bitmaps in size)
  * that cross-partition duplicate detection needs.
  */
final class MergeClaimsFileBuf extends Serializable {
  @transient var claims: Roaring64Bitmap = new Roaring64Bitmap()
  /** matched identities seen exactly ONCE so far */
  @transient var seen: Roaring64Bitmap = new Roaring64Bitmap()
  /** exact counts for identities matched MORE than once (error path) */
  @transient var dup: java.util.HashMap[java.lang.Long, java.lang.Long] =
    new java.util.HashMap()

  def countOf(idx: Long): Long = {
    val d = dup.get(idx)
    if (d != null) d.longValue()
    else if (seen.contains(idx)) 1L
    else 0L
  }

  /** invariant: an idx lives in `dup` XOR `seen` XOR neither */
  def addMatched(idx: Long): Unit = {
    val d = dup.get(idx)
    if (d != null) dup.put(idx, d + 1L)
    else if (seen.contains(idx)) { seen.removeLong(idx); dup.put(idx, 2L) }
    else seen.addLong(idx)
  }

  def mergeFrom(b: MergeClaimsFileBuf): Unit = {
    claims.or(b.claims)
    // 1. b's duplicated identities: exact sum with this side's count
    val it = b.dup.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val idx = e.getKey.longValue()
      val total = countOf(idx) + e.getValue.longValue()
      seen.removeLong(idx)
      dup.put(idx, total)
    }
    // 2. this side's duplicated identities also seen once in b
    val ita = dup.entrySet().iterator()
    while (ita.hasNext) {
      val e = ita.next()
      val idx = e.getKey.longValue()
      if (!b.dup.containsKey(idx) && b.seen.contains(idx))
        e.setValue(e.getValue + 1L)
    }
    // 3. seen on both sides exactly once each -> count 2
    val inter = seen.clone()
    inter.and(b.seen)
    val li = inter.getLongIterator
    while (li.hasNext) {
      val idx = li.next()
      seen.removeLong(idx)
      dup.put(idx, 2L)
    }
    // 4. union the remaining once-seen identities
    val bi = b.seen.getLongIterator
    while (bi.hasNext) {
      val idx = bi.next()
      if (!dup.containsKey(idx)) seen.addLong(idx)
    }
  }

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    def bm(b: Roaring64Bitmap): Unit = {
      val bytes = Dv.serialize(if (b == null) new Roaring64Bitmap() else b)
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    bm(claims); bm(seen)
    out.writeInt(if (dup == null) 0 else dup.size())
    if (dup != null) {
      val it = dup.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out.writeLong(e.getKey.longValue())
        out.writeLong(e.getValue.longValue())
      }
    }
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    def bm(): Roaring64Bitmap = {
      val bytes = new Array[Byte](in.readInt())
      in.readFully(bytes)
      Dv.deserialize(bytes)
    }
    claims = bm(); seen = bm()
    val n = in.readInt()
    dup = new java.util.HashMap()
    var i = 0
    while (i < n) { dup.put(in.readLong(), in.readLong()); i += 1 }
  }
}

/** The aggregation buffer: one partial per PARTITION, keyed by the
  * TaskContext partition id whose rows built it, each holding that
  * partition's per-file claim state. A stage retry (the metric can sit
  * in a shuffle-map stage, e.g. below a bucketed write's exchange)
  * re-sends an identical partial under the same key; [[MergeClaimsAgg
  * .merge]] keeps the first, so the retry cannot double-count a match
  * into a false ambiguity error. The same pattern as FusedBloomAgg.
  */
final class MergeClaimsBuffer extends Serializable {
  @transient var parts: java.util.HashMap[Integer,
    java.util.LinkedHashMap[String, MergeClaimsFileBuf]] = new java.util.HashMap()
  /** the partial this buffer's reduce() feeds: one task, one key */
  @transient private var current: java.util.LinkedHashMap[String, MergeClaimsFileBuf] = _

  def fileBuf(path: String): MergeClaimsFileBuf = {
    if (current == null) {
      // rows reduced outside a task (driver-side evaluation, unit tests)
      // key by a buffer-unique negative id: distinct buffers stay
      // distinct partials
      val tc = org.apache.spark.TaskContext.get()
      val key = if (tc != null) tc.partitionId() else MergeClaimsBuffer.offTaskKey()
      current = new java.util.LinkedHashMap()
      parts.put(key, current)
    }
    var f = current.get(path)
    if (f == null) { f = new MergeClaimsFileBuf(); current.put(path, f) }
    f
  }

  /** every partition's claim state, combined per file */
  def files: java.util.LinkedHashMap[String, MergeClaimsFileBuf] = {
    val out = new java.util.LinkedHashMap[String, MergeClaimsFileBuf]()
    parts.values().forEach(_.forEach { (path, f) =>
      var acc = out.get(path)
      if (acc == null) { acc = new MergeClaimsFileBuf(); out.put(path, acc) }
      acc.mergeFrom(f)
    })
    out
  }

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.writeInt(if (parts == null) 0 else parts.size())
    if (parts != null) parts.forEach { (key, files) =>
      out.writeInt(key.intValue())
      out.writeInt(files.size())
      files.forEach { (path, f) =>
        out.writeUTF(path)
        out.writeObject(f)
      }
    }
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    parts = new java.util.HashMap()
    val nParts = in.readInt()
    var k = 0
    while (k < nParts) {
      val key = in.readInt()
      val files = new java.util.LinkedHashMap[String, MergeClaimsFileBuf]()
      val n = in.readInt()
      var i = 0
      while (i < n) {
        val path = in.readUTF()
        files.put(path, in.readObject().asInstanceOf[MergeClaimsFileBuf])
        i += 1
      }
      parts.put(key, files)
      k += 1
    }
  }
}

object MergeClaimsBuffer {
  private val offTaskKeys = new java.util.concurrent.atomic.AtomicInteger(0)
  private def offTaskKey(): Int = offTaskKeys.decrementAndGet()
}

/** One decoded per-file result: claim bitmap bytes + multi-match stats
  * (maxMatches, an offending idx). */
final case class MergeFileClaims(claims: Array[Byte], maxMatches: Long,
    maxMatchesIdx: Long)

/** The fused merge-claims aggregate: an UNGROUPED aggregate over
  * `(dvPath, dvIdx, matched, action)` join rows that a `Dataset.observe`
  * evaluates as a side effect of the merge's new-rows WRITE job — the
  * full-outer join is computed once, with no cache, instead of cache +
  * claims pass + projection pass. Exactly-once: partials are keyed by
  * partition id and the first partial of each partition wins
  * ([[MergeClaimsBuffer]]), so a re-run map stage, whose accumulator
  * updates the driver merges again, cannot double-count.
  *
  * Input sentinel conventions keep the encoder on primitive fast paths:
  * source-only rows pass `dvIdx < 0` (skipped entirely);
  * unclaimed-and-unmatched target rows contribute nothing.
  */
object MergeClaimsAgg
    extends Aggregator[(String, Long, Boolean, Int), MergeClaimsBuffer, Array[Byte]] {

  def zero: MergeClaimsBuffer = new MergeClaimsBuffer()

  def reduce(b: MergeClaimsBuffer, in: (String, Long, Boolean, Int)): MergeClaimsBuffer = {
    val (path, idx, matched, action) = in
    if (idx >= 0L && path != null) {
      if (matched || action >= 0) {
        val f = b.fileBuf(path)
        if (action >= 0) f.claims.addLong(idx)
        if (matched) f.addMatched(idx)
      }
    }
    b
  }

  /** Partials combine by partition key; the FIRST partial of a key wins
    * (a retried task's copy is dropped). Per-file state combines only in
    * [[finish]]. */
  def merge(a: MergeClaimsBuffer, b: MergeClaimsBuffer): MergeClaimsBuffer = {
    b.parts.forEach((key, files) => a.parts.putIfAbsent(key, files))
    a
  }

  /** Blob format: Int nFiles, then per file: UTF path, Int claimsLen +
    * bytes, Long maxMatches, Long maxMatchesIdx. Files with no claims
    * and no multi-match are dropped. */
  def finish(b: MergeClaimsBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    val kept = new java.util.ArrayList[(String, Array[Byte], Long, Long)]()
    val it = b.files.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val f = e.getValue
      var mm = if (f.seen.isEmpty) 0L else 1L
      var mmIdx = -1L
      val di = f.dup.entrySet().iterator()
      while (di.hasNext) {
        val d = di.next()
        if (d.getValue > mm) mm = d.getValue
        if (d.getKey > mmIdx) mmIdx = d.getKey
      }
      if (!f.claims.isEmpty || mm > 1L)
        kept.add((e.getKey, Dv.serialize(f.claims), mm, mmIdx))
    }
    out.writeInt(kept.size())
    kept.forEach { case (path, claims, mm, mmIdx) =>
      out.writeUTF(path)
      out.writeInt(claims.length)
      out.write(claims)
      out.writeLong(mm)
      out.writeLong(mmIdx)
    }
    out.close()
    bos.toByteArray
  }

  def bufferEncoder: Encoder[MergeClaimsBuffer] =
    Encoders.javaSerialization[MergeClaimsBuffer]
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY

  def decode(blob: Array[Byte]): Map[String, MergeFileClaims] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(blob))
    val n = in.readInt()
    (0 until n).map { _ =>
      val path = in.readUTF()
      val claims = new Array[Byte](in.readInt())
      in.readFully(claims)
      val mm = in.readLong()
      val mmIdx = in.readLong()
      path -> MergeFileClaims(claims, mm, mmIdx)
    }.toMap
  }

  /** `claims(path, idx, matched, action)` usable in observe/agg. */
  val claims: UserDefinedFunction = udaf(MergeClaimsAgg,
    Encoders.tuple(Encoders.STRING, Encoders.scalaLong,
      Encoders.scalaBoolean, Encoders.scalaInt))
}
