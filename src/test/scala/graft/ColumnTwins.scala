package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5CwParams, minhashParams, Prime}
import graft.functions.TextFunctions.{NamedScripts, NonLatinClassJava, tokens}
import graft.functions.VectorFunctions.l2sq
import graft.operators.{KMeans, Pq}

/** Built-in Column spellings of graft's native kernels — the
  * differential references the parity specs in ExpressionsSpec pin
  * each kernel against. Operators never run these: every kernel has
  * one implementation in main code, built directly as its native
  * expression.
  */
object ColumnTwins {

  /** Twin of `HashFunctions.simhash64`: per bit, a fold of ±1 votes
    * over each token's xxhash64 bit, then the sign of each sum packed
    * into one BIGINT.
    */
  def simhash64(toks: Column): Column = {
    val bitVotes: Column => Column = t => {
      val h = xxhash64(t)
      array((0 until 64).map(i =>
        when(shiftright(h, i).bitwiseAND(lit(1L)) === lit(1L), lit(1)).otherwise(lit(-1))): _*)
    }
    val votes = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) => zip_with(acc, bitVotes(t), (a, b) => a + b)
    )
    // fold bits into one BIGINT: bit i set iff votes(i) > 0
    val powers = array((0 until 64).map(i => lit(1L << i)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b)
    )
  }

  /** Twin of `HashFunctions.minhashSignature`. NULL-input parity with
    * the native expression (null array → SQL NULL; the bare HOF form
    * would yield an array of `perms` nulls) without a conditional
    * branch: HOFs are null-intolerant too, so `bases` is NULL for a
    * NULL input — filtering the singleton array drops it and `get` of
    * the then-empty array is SQL NULL. The singleton-array transform
    * let-binds the base-hash array so the hashing pass runs once.
    */
  def minhashSignature(shingles: Column, perms: Int): Column = {
    val params = minhashParams(perms)
    val bases = transform(shingles, s => pmod(xxhash64(s), lit(Prime)))
    get(transform(filter(array(bases), bs => bs.isNotNull), bs =>
      array(params.map { case (a, b) =>
        array_min(transform(bs, h => pmod(lit(a) * h + lit(b), lit(Prime))))
      }: _*)), lit(0))
  }

  /** Twin of `HashFunctions.md5MinhashSig`: one pass materializing the
    * 56-bit digests (md5 → hex → substring → conv per element,
    * let-bound once like [[minhashSignature]]), then `perms` array_min
    * passes of the affine maps. A null ELEMENT digests to null and
    * drops out of every array_min, exactly like the native kernel
    * skips it.
    */
  def md5MinhashSig(shingles: Column, perms: Int): Column = {
    val params = md5CwParams(perms)
    val half = 1L << 28
    val th = transform(shingles, t => conv(substring(md5(t), 1, 14), 16, 10).cast("long"))
    get(transform(filter(array(th), a => a.isNotNull), a =>
      array(params.map { case (pa, pb) =>
        array_min(transform(a, h =>
          (lit(pa) * shiftright(h, 28) + lit(pb) * (h % lit(half))) % lit(Prime)))
      }: _*)), lit(0))
  }

  /** Twin of `TextFunctions.scriptCounts`: 17 `regexp_count` passes. */
  def scriptCounts(text: Column): Column = {
    val named = NamedScripts.map(s =>
      s -> regexp_count(text, lit(s"\\p{Is${s.capitalize}}")).cast("long"))
    val nonLatinTotal = regexp_count(text, lit(NonLatinClassJava)).cast("long")
    struct(
      (regexp_count(text, lit("\\p{IsLatin}")).cast("long").as("n_latin") +:
        named.map { case (s, c) => c.as(s"n_$s") }) ++ Seq(
        (nonLatinTotal - named.map(_._2).reduce(_ + _)).as("n_other"),
        regexp_count(text, lit("[0-9]")).cast("long").as("n_digit")): _*)
  }

  /** Twin of `Dedup.simhashMd5Fingerprints`: explode one row per
    * (doc, distinct token), then a 64-bit-sum groupBy and the four
    * 16-bit chunks (doc_id, c0..c3).
    */
  def simhashMd5Fingerprints(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .select(col("doc_id"), substring(md5(col("tok")), 1, 16).as("h"))
    val bitSums = (0 until 64).map { j =>
      val nib = conv(substring(col("h"), 1 + j / 4, 1), 16, 10).cast("int")
      val bit = shiftright(nib, 3 - j % 4).bitwiseAND(lit(1))
      sum(bit * lit(2) - lit(1)).as(s"s$j")
    }
    val chunkCols = (0 until 4).map { c =>
      (0 until 16).map { i =>
        when(col(s"s${c * 16 + i}") > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"c$c")
    }
    tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id") +: chunkCols: _*)
  }

  /** Twin of `Dedup.latticeClusterCol`: the first minimum of the
    * squared distances listed in ascending-cid order.
    */
  def latticeClusterCol(q: Column, cs: Seq[(Long, Array[Long])]): Column = {
    val ds = cs.map { case (_, c) =>
      aggregate(zip_with(q, typedlit(c.toSeq), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x) }
    val dArr = array(ds: _*)
    val cidArr = typedlit(cs.map(_._1))
    element_at(cidArr, array_position(dArr, array_min(dArr)).cast("int"))
  }

  /** Twin of `Dedup.latticeDot`. */
  def latticeDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Literal-centroid twin of `Pq.codesExpr`: one k-means assignment
    * per subspace.
    */
  def pqCodes(v: Column, cb: Pq.Codebooks): Column =
    array((0 until cb.m).map { s =>
      val cents: KMeans.Centroids =
        cb.books(s).zipWithIndex.map { case (c, i) => (i.toLong, c) }
      KMeans.assignExpr(Pq.subvec(v, s, cb.dsub), cents)._1.cast("int")
    }: _*)

  /** Literal-centroid twin of `Pq.adcTableExpr`. */
  def pqAdcTable(v: Column, cb: Pq.Codebooks): Column =
    array((0 until cb.m).flatMap { s =>
      (0 until cb.ks).map { c =>
        l2sq(Pq.subvec(v, s, cb.dsub), typedlit(cb.books(s)(c)))
      }
    }: _*)
}
