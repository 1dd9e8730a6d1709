package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Dev tool: derive an sf1-scale benchmark dataset from the driver's sf0.1
  * tables (TESTDATA.md says the generated dirs stop at sf0.1; the scaling
  * curve in BASELINE.md needs one more order of magnitude).
  *
  * Each fact table is replicated `copies` times with DISJOINT key ranges
  * (stride > the source key domain) so referential integrity holds within
  * every copy and cross-copy joins never collide — row counts scale by
  * exactly ×copies while join/group cardinalities scale the way a larger
  * generated dataset would. Content columns are perturbed so similarity
  * workloads keep their character instead of degenerating:
  *   - documents.text passed through a per-copy character BIJECTION
  *     (letter/digit rotation + case swap — see copyTranslate below):
  *     within-copy structure is preserved exactly while cross-copy
  *     words, char-grams, and prefixes share nothing, so near-dup pair
  *     counts stay LINEAR in copies under EVERY granularity of measure
  *     (word shingles, char-gram signatures, edit-distance prefixes —
  *     the earlier word-suffix scheme kept only the first linear);
  *   - embeddings.embedding cyclically rotated by `copy` positions — an
  *     ORTHOGONAL map, so every within-copy distance, angle, and norm is
  *     preserved exactly (near-dup/ANN structure replicates per copy →
  *     linear growth) while cross-copy vectors decorrelate. A magnitude
  *     offset here instead would collapse all copies onto one direction
  *     after unit-normalization and manufacture ~n²/2 genuine cosine
  *     near-dup pairs (measured: 531× bench blowup on q52);
  *     embeddings.label shifted per copy so label-blocked operators keep
  *     constant block sizes (the "more shards at scale" regime);
  *   - dimension tables (region, nation) are NOT replicated — like TPC-H,
  *     they are fixed-size at every sf.
  * Deterministic (pure column arithmetic, no randomness): rerunning
  * produces byte-identical tables.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir dstDir copies]
  * Defaults: /root/testdata/sf0.1 → .benchdata/sf1 ×10.
  */
object ScaleUp {

  /** The copy-i character bijection as a translate() (from, to) pair —
    * object-level and pure so the spec can pin the whole 100-copy family
    * without generating data. See the invariants at the call site. */
  def translationFor(i: Int): (String, String) = {
    val lo = ('a' to 'z').mkString; val up = ('A' to 'Z').mkString
    val dg = ('0' to '9').mkString
    def rot(s: String, k: Int) = s.drop(k) + s.take(k)
    def base(s: String) = if ((i / 52) % 2 == 1) s.reverse else s
    val (mlo, mup) = {
      val l = rot(base(lo), i % 26); val u = rot(base(up), i % 26)
      if ((i / 26) % 2 == 1) (l.toUpperCase, u.toLowerCase) else (l, u)
    }
    val mdg = rot(if ((i / 10) % 2 == 1) dg.reverse else dg, i % 10)
    (lo + up + dg, mlo + mup + mdg)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else ".benchdata/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Tables.session(Runtime.getRuntime.availableProcessors(), src)
    try write(spark, src, dst, copies)
    finally spark.stop()
  }

  def write(spark: SparkSession, src: String, dst: String,
            copies: Int): Unit = {
    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def out(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    // one scan → ×copies rows; the literal range side is broadcast
    def fan(df: DataFrame) =
      df.crossJoin(spark.range(copies).toDF("__copy"))
    def shift(stride: Long)(c: Column): Column = c + col("__copy") * stride

    out(read("region"), "region")
    out(read("nation"), "nation")

    val cust = shift(100000L) _
    val supp = shift(10000L) _
    val part = shift(100000L) _
    val ord = shift(1000000L) _

    out(fan(read("customer"))
      .withColumn("c_custkey", cust(col("c_custkey")))
      // balances shift per copy so the similarity self-join's pair
      // density stays CONSTANT per copy: without this every customer
      // gains copies-1 identical-balance clones and the |Δacctbal|<=1
      // join's output grows ~copies² for copies× rows — a fixture
      // artifact that would masquerade as superlinear engine scaling
      .withColumn("c_acctbal", col("c_acctbal") + col("__copy") * 20000.0)
      .drop("__copy"), "customer")
    out(fan(read("supplier"))
      .withColumn("s_suppkey", supp(col("s_suppkey")))
      .drop("__copy"), "supplier")
    out(fan(read("part"))
      .withColumn("p_partkey", part(col("p_partkey")))
      .drop("__copy"), "part")
    out(fan(read("orders"))
      .withColumn("o_orderkey", ord(col("o_orderkey")))
      .withColumn("o_custkey", cust(col("o_custkey")))
      .drop("__copy"), "orders")
    out(fan(read("lineitem"))
      .withColumn("l_orderkey", ord(col("l_orderkey")))
      .withColumn("l_partkey", part(col("l_partkey")))
      .withColumn("l_suppkey", supp(col("l_suppkey")))
      .drop("__copy"), "lineitem")
    // ts stays put: 10× event density in the same interval (windows get
    // 10× rows each, the realistic higher-throughput-stream read). Written
    // back as the long nanos the nanosAsLong reader surfaces — value- and
    // reader-behavior-identical to the TIMESTAMP(NANOS) source.
    out(fan(read("events"))
      .withColumn("event_id", shift(1000000L)(col("event_id")))
      .withColumn("user_id", shift(10000L)(col("user_id")))
      .drop("__copy"), "events")
    // Per-copy CHARACTER BIJECTION, not a word suffix. The ×100 run
    // exposed the suffix scheme (`word` → `word_c<i>`) as a correlation
    // factory at every granularity finer than a word: all copies share
    // the literal segment "<word>_c" (one PassJoin bucket held 16,335
    // docs → 267M edit-distance candidates at sf10), and char-grams of
    // `quick_c17` vs `quick_c23` are near-identical (100-member GENUINE
    // SimHash cliques → 22M true pairs). A bijection on the alphabet
    // preserves every within-copy structure EXACTLY (word identity,
    // shingle sets, edit distances, lengths, token counts) while
    // cross-copy words, char-grams, and key prefixes share nothing.
    //
    // Letter maps: rotate by copy%26 (case-preserving), case-swap at
    // (copy/26)%2, and — the r11 fix — REVERSE the alphabet base at
    // (copy/52)%2. Rotation×case alone yields only 52 distinct letter
    // maps, so at 100 copies every copy i<48 had a byte-identical text
    // twin at i+52: ~240k manufactured cross-copy "near-dup" pairs that
    // inflated q19/q134 output 11x over linear and flooded q71's SimHash
    // buckets into its df cap at the x100 scale. Reversal is
    // orientation-reversing, so no rot∘case composition equals another
    // block's map; two maps from different reversal blocks coincide on
    // at most 2 letters (rot_k∘rev has 2 fixed points for odd k, 0 for
    // even — solutions of 2c ≡ 25+k mod 26), far below any shingle-level
    // overlap a near-dup measure can amplify. 104 distinct letter maps.
    //
    // Digit maps: same rotation+reversal scheme (20 distinct maps). The
    // shipped corpus is digit-free (guarded below), so digits never
    // carry cross-copy identity; the guard fails generation loudly if a
    // future corpus has digits and copies exceeds the digit-map family.
    def copyTranslate(i: Int): Column = {
      val (from, to) = translationFor(i)
      translate(col("text"), from, to)
    }
    require(copies <= 104,
      s"copies=$copies must be <= 104 for distinct text bijections")
    if (copies > 20) {
      // digit maps wrap at 20: only safe because the corpus has none
      val digitDocs = read("documents")
        .filter(col("text").rlike("[0-9]")).count()
      require(digitDocs == 0,
        s"copies=$copies > 20 distinct digit maps but $digitDocs docs " +
          "contain digits: cross-copy digit content would collide — " +
          "extend the digit bijection family before scaling this corpus")
    }
    // same overlap guard as vec_id below: copies are only disjoint if
    // every base id fits under the stride (empty table -> -1, passes)
    val maxDocId = read("documents")
      .agg(coalesce(max(col("doc_id")), lit(-1L))).head().getLong(0)
    require(maxDocId < 100000L,
      s"base doc_id max $maxDocId >= stride 100000: copy id ranges " +
        "would overlap - rescale from the ORIGINAL fixture or raise " +
        "the stride above the max id")
    out(fan(read("documents"))
      .withColumn("doc_id", shift(100000L)(col("doc_id")))
      .withColumn("text", (1 until copies).foldLeft(col("text")) {
        (acc, i) => when(col("__copy") === i, copyTranslate(i))
          .otherwise(acc)
      })
      .withColumn("n_chars", length(col("text")))
      .drop("__copy"), "documents")
    val dim = read("embeddings").selectExpr("size(embedding)").head().getInt(0)
    // rotation by `copy % dim` is injective within one dim-sized block of
    // copies; the second block reuses the rotations with the ODD indices
    // sign-flipped (norm-preserving, so unit-norm stays unit), keeping
    // every cross-copy vector distinct — the quadratic-pair trap this
    // perturbation exists to avoid. Two blocks bound the tool at 2×dim
    // copies (128 at dim 64 — covers the ×100 sf10 generation).
    require(copies <= 2 * dim,
      s"copies=$copies must be <= 2*dim=${2 * dim} for distinct variants")
    val rot = col("__copy") % dim
    val rotated = concat(
      slice(col("embedding"), rot + 1, lit(dim) - rot),
      slice(col("embedding"), lit(1), rot))
    // PRIME id stride: the clustered-fixture derivation downstream
    // (clusteredEmbeddings: cluster = vec_id % (n/50)) must see copies
    // SPREAD across clusters. A round stride like 100000 is ≡ 0 modulo
    // every n/50 the fixture computes at sf1/sf10 (400, 4000), which
    // aliases all copies of a base vector into one cluster — cluster
    // sizes then grow with copies instead of staying at the designed 50,
    // and "cluster ∝ n, size constant" silently becomes "size ∝ copies"
    // (measured: q52's sf10 output doubled). 99991 is prime, so it is
    // coprime to every such modulus in range.
    // The prime stride is only disjoint if every base id fits under it:
    // re-scaling an already-scaled output (or a bigger generated fixture)
    // would otherwise alias copy ranges into duplicate vec_ids and corrupt
    // every pair count downstream. One cheap agg guards it.
    val maxVecId = read("embeddings")
      .agg(coalesce(max(col("vec_id")), lit(-1L))).head().getLong(0)
    require(maxVecId < 99991L,
      s"base vec_id max $maxVecId >= stride 99991: copy id ranges would " +
        "overlap — rescale from the ORIGINAL fixture or raise the stride " +
        "to a prime above the max id")
    out(fan(read("embeddings"))
      .withColumn("vec_id", shift(99991L)(col("vec_id")))
      .withColumn("embedding",
        when((col("__copy") / dim).cast("int") === 0, rotated)
          .otherwise(transform(rotated,
            (x, i) => when(i % 2 === 1, -x).otherwise(x))))
      .withColumn("label",
        (col("label") + col("__copy") * 1000).cast("int"))
      .drop("__copy"), "embeddings")
  }
}
