package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFns._

class TextFnsSpec extends AnyFunSuite {

  test("normalize collapses separators and case") {
    assert(normalize("Acute  Femur-Fracture/Left") == "acute femur fracture left")
    assert(normalize("  x  ") == "x")
    assert(normalize("") == "")
    assert(normalize("a+b(c)") == "a b c")
  }

  test("tokensWithOffsets round-trips offsets") {
    val t = "Acute femur, fracture."
    for ((tok, s, e) <- tokensWithOffsets(t))
      assert(t.substring(s, e).toLowerCase == tok)
    assert(tokensWithOffsets(t).map(_._1) == Seq("acute", "femur", "fracture"))
    // folds per char like `normalize`: one char in, one char out
    assert(tokensWithOffsets("\u0130nfection").map(_._1) == Seq("infection"))
  }

  test("jaro-winkler known values") {
    assert(math.abs(jaroWinkler("MARTHA", "MARHTA") - 0.9611) < 0.001)
    assert(math.abs(jaroWinkler("DIXON", "DICKSONX") - 0.8133) < 0.001)
    assert(jaroWinkler("abc", "abc") == 1.0)
    assert(jaroWinkler("abc", "xyz") == 0.0)
  }

  test("minhash similarity tracks jaccard: typo stays close, unrelated far") {
    val a = minHashSignature("acute femur fracture", 64)
    val b = minHashSignature("acute femur fractrue", 64) // typo
    val c = minHashSignature("chronic kidney stenosis", 64)
    def est(x: Array[Long], y: Array[Long]) =
      x.zip(y).count { case (p, q) => p == q }.toDouble / x.length
    assert(est(a, b) > 0.5)
    assert(est(a, c) < 0.2)
  }

  test("band keys deterministic and shared for near-duplicates") {
    val a = bandKeys(minHashSignature("acute femur fracture", 64), 4)
    val a2 = bandKeys(minHashSignature("acute femur fracture", 64), 4)
    assert(a.sameElements(a2))
    assert(a.length == 16)
  }

  test("poly/finalizer hash constants are pinned (SQL oracle contract)") {
    // These exact values are embedded in the DuckDB oracle replays
    // (dedup_simhash / doc_fingerprint / linkage_span_invariant): a change
    // to the hash family must fail HERE, not as silent oracle drift.
    assert(fingerprint64("abc") == -3351804022671199651L)
    assert(simGramHash("acute femur fracture") == 6906039992583371728L)
    assert(simGramHash("tok") == -3688995587750053775L)
    assert(graft.queries.LinkageQueries.fieldHash("text", 2) == 1266702614553372243L)
    assert(graft.queries.LinkageQueries.fieldHash("", 1) == 7032746270253168692L)
    // r5 poly-family blocking/scoring contract (linkage_clusters /
    // linkage_pairwise_f1 / doc_fingerprint oracles + check_key_replay.py)
    assert(polyKeyHash("acute femur fracture", 0x45781L) == 6618928011904736064L)
    assert(polyKeyHash("acute femur fracture", 0x57a9dL) == -5552121414903584372L)
    assert(minHashOfSet(Array("acu", "cut", "ute"), 8).head == -2369193049913744707L)
    assert(bandKeys(minHashOfSet(Array("acu", "cut", "ute"), 8), 4)(0)
      == "mh:0:-1156217193943856987")
    assert(graft.operators.Blocking.keyHashesFor("femur fracture").take(2).toSeq
      == Seq(-7865064049603187485L, 6299195537606827050L))
    // raw embedding: bucket = floorMod(simGramHash, 64), sign = bit 6
    val er = hashedEmbeddingRaw("femur")
    assert(er.zipWithIndex.collect { case (w, i) if w != 0f => (i, w.toInt) }.toSeq
      == Seq((45, 1), (58, 1), (59, 1)))
    // ADVICE r4 low, all-punctuation doc: Scala emits ONE empty shingle
    // hashed as fingerprint64("") (seed only); the SQL replay's
    // list_filter(x -> x <> '') makes its fold return the same bare seed.
    // This constant was verified equal to the simHashSigSql DuckDB output
    // for the same text — the empty-gram seam cannot silently reopen.
    assert(graft.operators.Dedup.wordShingles("!!! ??? ... ;;;").toSeq == Seq(""))
    assert(simHashOfSet(Array("")) == -8785620534301320867L)
  }

  test("jaro-winkler boost threshold (DuckDB built-in parity)") {
    // jaro <= 0.7: NO prefix boost despite the common 'd' prefix — the
    // Winkler/DuckDB thresholded form the linkage_clusters oracle relies on
    val j = jaro("dcbfe", "d fcca")
    assert(j <= 0.7)
    assert(jaroWinkler("dcbfe", "d fcca") == j)
    // jaro > 0.7: boost applies
    assert(jaroWinkler("acute", "abcde") == 0.76)
  }

  test("simhash hamming small for near-dup, large for unrelated") {
    val a = simHash64("the patient reports acute femur fracture since admission")
    val b = simHash64("the patient reports acute femur fractrue since admission")
    val c = simHash64("completely different content about nothing relevant here")
    assert(hammingDistance(a, b) < 10)
    assert(hammingDistance(a, c) > 15)
  }

  test("hashed embedding cosine separates near from far") {
    val a = hashedEmbeddingRaw("acute femur fracture")
    val b = hashedEmbeddingRaw("acute femur fractures")
    val c = hashedEmbeddingRaw("latent cornea erosion")
    assert(cosine(a, b) > 0.8)
    assert(cosine(a, c) < 0.4)
    assert(math.abs(cosine(a, a) - 1.0) < 1e-9)
  }
}
