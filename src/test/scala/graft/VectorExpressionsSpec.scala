package graft

import org.apache.spark.sql.functions._
import graft.ext.Similarity
import graft.functions.VectorExpressions.vector_dot

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("VectorDot matches the higher-order-function fold bit-for-bit") {
    val e = Tables.embeddings(spark, sf0001)
      .select(Similarity.asDouble($"embedding").as("v"))
    val hof = e.select(
      aggregate(zip_with($"v", $"v", (x, y) => x * y), lit(0.0), (a, x) => a + x).as("d"))
      .as[Double].collect()
    val native = e.select(vector_dot($"v", $"v").as("d")).as[Double].collect()
    assert(hof.toSeq == native.toSeq) // bit-for-bit: same summation order
  }

  test("VectorDot handles nulls and mismatched lengths") {
    val df = Seq(
      (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0))), // min-length semantics
      (None, Some(Seq(1.0))),                           // null input -> null
      (Some(Seq.empty[Double]), Some(Seq.empty[Double])))
      .toDF("a", "b")
    val got = df.select(vector_dot($"a", $"b")).as[Option[Double]].collect()
    assert(got.toSeq == Seq(Some(14.0), None, Some(0.0)))
  }

  test("ShingleHashes matches the declarative Horner fold bit-for-bit") {
    import graft.ext.{Dedup, TextOps}
    val staged = Tables.documents(spark, sf0001)
      .select($"doc_id", TextOps.hashAll(TextOps.tokens($"text")).as("th"))
    for (n <- Seq(2, 3, 5)) {
      val mismatches = staged.select(
        (Dedup.shingleHashes($"th", n) =!= DeclarativeTwins.shingleHashesReference($"th", n))
          .as("bad")).where($"bad").count()
      assert(mismatches == 0, s"native shingle hashes diverge at n=$n")
    }
    // <n fallback: documents shorter than n return their token hashes
    val short = Seq(Seq(5L, 7L)).toDF("th")
    val got = short.select(Dedup.shingleHashes($"th", 3)).as[Seq[Long]].head()
    assert(got == Seq(5L, 7L))
    // null elements null every window containing them
    val withNull = Seq(Seq(Some(1L), None, Some(3L), Some(4L))).toDF("th")
    val nh = withNull.select(Dedup.shingleHashes($"th", 3)).as[Seq[Option[Long]]].head()
    val ref = withNull.select(DeclarativeTwins.shingleHashesReference($"th", 3))
      .as[Seq[Option[Long]]].head()
    assert(nh == ref && nh.count(_.isEmpty) == 2, s"null propagation: $nh vs $ref")
  }

  test("MinhashSigs matches the declarative affine-min signatures bit-for-bit") {
    import graft.ext.{Dedup, TextOps}
    val staged = Tables.documents(spark, sf0001)
      .select($"doc_id", TextOps.hashAll(TextOps.tokens($"text")).as("th"))
      .select($"doc_id", Dedup.shingleHashes($"th").as("hs"))
    val native = staged.select($"doc_id" +: Dedup.signaturesFromHashes($"hs"): _*)
    val ref = staged.select($"doc_id" +: DeclarativeTwins.signaturesFromHashesReference($"hs"): _*)
    assert(native.except(ref).isEmpty && ref.except(native).isEmpty,
      "native minhash signatures diverge from the declarative form")
    // no non-null elements -> null signature components (array_min semantics)
    val empty = Seq(Seq.empty[Long]).toDF("hs")
    val sigs = empty.select(Dedup.signaturesFromHashes($"hs", 2): _*)
      .as[(Option[Long], Option[Long])].head()
    assert(sigs == ((None, None)))
  }

  test("RollingHash matches the declarative aggregate fold bit-for-bit") {
    import graft.ext.TextOps
    val docs = Tables.documents(spark, sf0001)
    val native = docs.select($"doc_id", TextOps.fingerprint(TextOps.tokens($"text")).as("f"))
    val ref = docs.select($"doc_id", DeclarativeTwins.fingerprintReference(TextOps.tokens($"text")).as("f"))
    assert(native.except(ref).isEmpty && ref.except(native).isEmpty)
    // empty array -> 0 (the fold's zero); null element -> null
    import graft.functions.HashExpressions.rolling_hash
    val edge = Seq((Seq.empty[Option[Long]], 1), (Seq(Some(5L), None), 2))
      .toDF("a", "id")
    val got = edge.select($"id", rolling_hash($"a", 31L, 2147483647L))
      .as[(Int, Option[Long])].collect().toMap
    assert(got == Map(1 -> Some(0L), 2 -> None))
  }

  test("SortedOverlapCount matches array_intersect size on hashed token sets") {
    import graft.functions.VectorExpressions.sorted_overlap
    import graft.ext.{Dedup, TextOps}
    val t = Tables.documents(spark, sf0001)
      .select($"doc_id", Dedup.hashSet(TextOps.tokens($"text")).as("h"))
    val pairs = t.select($"doc_id".as("id_a"), $"h".as("ha"))
      .crossJoin(t.select($"doc_id".as("id_b"), $"h".as("hb")))
      .where($"id_a" < $"id_b").limit(500)
    val diff = pairs.select(
      (sorted_overlap($"ha", $"hb") =!= size(array_intersect($"ha", $"hb")))
        .as("bad")).where($"bad").count()
    assert(diff == 0L)
  }

  test("SortedOverlapCount null and empty semantics") {
    import graft.functions.VectorExpressions.sorted_overlap
    val df = Seq(
      (Some(Seq(1L, 3L, 5L)), Some(Seq(2L, 3L, 5L, 9L))),
      (None, Some(Seq(1L))),
      (Some(Seq.empty[Long]), Some(Seq(1L, 2L))))
      .toDF("a", "b")
    val got = df.select(sorted_overlap($"a", $"b")).as[Option[Int]].collect()
    assert(got.toSeq == Seq(Some(2), None, Some(0)))
  }

  test("Welford typed Aggregator matches built-in var_samp") {
    import graft.functions.WelfordVariance
    val ds = Tables.lineitem(spark, sf0001)
      .select($"l_quantity").as[Double]
    val typed = ds.select(WelfordVariance.toColumn).head()
    val builtin = Tables.lineitem(spark, sf0001)
      .agg(var_samp($"l_quantity")).head().getDouble(0)
    assert(math.abs(typed - builtin) < 1e-6, s"$typed vs $builtin")
  }

  test("Sessions factories build with graft extensions configured") {
    // clusterBuilder must compose without side effects; local() on a JVM
    // with an active session returns it via getOrCreate.
    val b = Sessions.clusterBuilder("graft-test-cluster")
    assert(b != null)
    val s = Sessions.local(2)
    assert(s.sparkContext.appName.nonEmpty)
  }

  test("Md5Hash32 matches the composed conv(substr(md5))) formula bit-for-bit") {
    import graft.functions.HashExpressions.{md5_hash32, md5_hash32_array}
    val docs = Tables.documents(spark, sf0001)
      .select(explode(graft.ext.TextOps.tokens($"text")).as("tok"))
      .union(Seq("", "x", "ünïcode-Ω", "a b", "\t").toDF("tok"))
    val mismatch = docs.select(
      (md5_hash32($"tok") =!= conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long"))
        .as("bad")).where($"bad").count()
    assert(mismatch == 0L)
    // array flavor == per-element scalar flavor, nulls preserved
    val arr = Seq(
      (Seq[String]("a", "bc", "ünïcode-Ω"), 0),
      (Seq.empty[String], 1)).toDF("a", "i")
    val got = arr.select(md5_hash32_array($"a").as("h"),
        transform($"a", t => md5_hash32(t)).as("e"))
      .where(not($"h" <=> $"e")).count()
    assert(got == 0L)
    val nulls = spark.sql("SELECT array('a', CAST(NULL AS STRING), 'b') AS a")
    val withNull = nulls.select(md5_hash32_array($"a").as("h")).head().getSeq[Any](0)
    assert(withNull(1) == null && withNull.length == 3)
  }

  test("Simhash32 matches the 32-aggregate declarative form bit-for-bit") {
    import graft.ext.{Dedup, TextOps}
    val t = Tables.documents(spark, sf0001)
      .select($"doc_id", TextOps.hashAll(TextOps.tokens($"text")).as("h"))
    val diff = t.select(
        (Dedup.simhash32FromHashes($"h") =!= DeclarativeTwins.simhash32Reference($"h")).as("bad"))
      .where($"bad").count()
    assert(diff == 0L)
    // empty array: every +-1 bit sum is 0 (>= 0), so all 32 bits set
    val empty = spark.sql("SELECT CAST(array() AS ARRAY<BIGINT>) AS h")
      .select(graft.functions.HashExpressions.simhash32($"h")).head().getLong(0)
    assert(empty == 0xffffffffL)
    // null element -> null sketch
    val withNull = spark.sql("SELECT array(CAST(1 AS BIGINT), NULL) AS h")
      .select(graft.functions.HashExpressions.simhash32($"h")).head()
    assert(withNull.isNullAt(0))
  }

  test("PqEncode matches the declarative transform/array_min reference bit-for-bit") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, sf0001)
    val native = Similarity.pqEncode(e, "vec_id", "embedding", m = 8, k = 16, dims = 64)
    val ref = DeclarativeTwins.pqEncodeReference(e, "vec_id", "embedding", m = 8, k = 16, dims = 64)
    val joined = native.withColumnRenamed("codes", "cn")
      .join(ref.withColumnRenamed("codes", "cr"), Seq("vec_id"))
    assert(joined.count() == e.count())
    assert(joined.where($"cn" =!= $"cr").count() == 0L)
  }

  test("PqEncode/PqAdcSum canonicalize on content-equal constant arrays (CSE-able)") {
    // Array fields compare by reference under synthesized case-class
    // equality, which would make two identical kernels never dedupe
    // under common-subexpression elimination. The content-based
    // equals/hashCode must see fresh-but-equal arrays as the same
    // expression (and content-different ones as different).
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.functions.{PqAdcSum, PqEncode}
    // one shared child, as in a real plan (the same resolved attribute);
    // the point under test is the kernel's CONSTANT-array fields
    val child = Bridge.expression(lit(Array(1.0, 2.0)))
    def book = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    def ids = Array(0L, 1L)
    val a = PqEncode(child, book, ids, 1)
    val b = PqEncode(child, book, ids, 1) // all-new array objects
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.semanticEquals(b))
    val c = PqEncode(child, Array(Array(1.0, 2.0), Array(3.0, 9.0)), ids, 1)
    assert(a != c)
    def lut = Array(10L, 20L)
    val s1 = PqAdcSum(child, lut, ids)
    val s2 = PqAdcSum(child, lut, ids)
    assert(s1 == s2 && s1.hashCode == s2.hashCode && s1.semanticEquals(s2))
    assert(s1 != PqAdcSum(child, Array(10L, 21L), ids))
  }

  test("vector_dot is SQL-registered through GraftExtensions") {
    // Verify the injection path on a derived session with the extension.
    val s2 = spark.newSession()
    graft.functions.VectorExpressions.functions.foreach { case (id, info, builder) =>
      s2.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    val r = s2.sql("SELECT vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
  }
}
