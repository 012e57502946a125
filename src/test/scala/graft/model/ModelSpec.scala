package graft.model

import org.scalatest.funsuite.AnyFunSuite

class SeqIdSpec extends AnyFunSuite {
  test("ordering by (mid, rid)") {
    val ids = Seq(SeqId(2, 1), SeqId(1, 9), SeqId(2, 0), SeqId(1, 1))
    assert(ids.sorted == Seq(SeqId(1, 1), SeqId(1, 9), SeqId(2, 0), SeqId(2, 1)))
  }

  test("little-endian hex round trip (seq/seq.go:37-53 format)") {
    val id = SeqId(0x0102030405060708L, 0x1112131415161718L)
    assert(id.toString == "0807060504030201-1817161514131211")
    assert(SeqId.parse(id.toString) == id)
    val zero = SeqId(0, 0)
    assert(SeqId.parse(zero.toString) == zero)
  }
}

class MappingYamlSpec extends AnyFunSuite {
  test("parses the reference mapping-list shape") {
    val yaml =
      """mapping-list:
        |  - name: clientip
        |    type: keyword
        |  - name: request
        |    type: text
        |  - name: request_uri
        |    type: path
        |  - name: message
        |    types:
        |      - type: text
        |      - title: keyword
        |        type: keyword
        |  - type: object
        |    name: someobj
        |    mapping-list:
        |      - type: keyword
        |        name: nested
        |""".stripMargin
    val m = SeqMapping.parseYaml(yaml)
    assert(m.typeOf("clientip") == IndexType.Keyword)
    assert(m.typeOf("request") == IndexType.Text)
    assert(m.typeOf("request_uri") == IndexType.Path)
    assert(m.typeOf("message") == IndexType.Text)
    assert(m.typeOf("message.keyword") == IndexType.Keyword)
    assert(m.typeOf("someobj.nested") == IndexType.Keyword)
    assert(!m.isIndexed("unmapped"))
    assert(!m.caseSensitive) // reference default: case folding on
  }

  test("index-all mode treats any field as keyword") {
    assert(SeqMapping.indexAll.typeOf("anything") == IndexType.Keyword)
  }

  test("unindexed field rejection (F11)") {
    val m = SeqMapping.of("a" -> IndexType.Keyword)
    assertThrows[SeqQlError](m.typeOf("b"))
  }
}

class TokenizerSpec extends AnyFunSuite {
  import graft.functions.Tokenizers

  test("text tokens: runs of letters/digits/underscore, case folded") {
    assert(Tokenizers.tokenize("Hello, wörld_42! x*y", caseSensitive = false) ==
      Seq("hello", "wörld_42", "x*y"))
    assert(Tokenizers.tokenize("Hello World", caseSensitive = true) ==
      Seq("Hello", "World"))
  }

  test("token length cap at 72 (consts/consts.go:25)") {
    val long = "a" * 100
    assert(Tokenizers.tokenize(long, caseSensitive = false) == Seq("a" * 72))
  }
}

class ReservoirSpec extends AnyFunSuite {
  import graft.functions.SeqAggregates
  import graft.functions.SeqAggregates.DetOps

  test("discrete quantile index = round(q*(n-1)) (seq/qpr.go:345-364)") {
    val sorted = Array(1.0, 2.0, 3.0, 4.0)
    assert(SeqAggregates.quantileOf(sorted, 0.0) == 1.0)
    assert(SeqAggregates.quantileOf(sorted, 1.0) == 4.0)
    assert(SeqAggregates.quantileOf(sorted, 0.5) == 3.0) // round(1.5)=2
    assert(SeqAggregates.quantileOf(sorted, 0.25) == 2.0) // round(0.75)=1
  }

  test("small input: exact stats, full sample retained") {
    val b = DetOps.zero
    for ((v, uid) <- Seq(5.0, 1.0, 3.0).zipWithIndex) DetOps.add(b, v, uid.toLong)
    DetOps.addNull(b) // missing field
    val r = DetOps.finish(b, Seq(0.5))
    assert(r.min == 1.0 && r.max == 5.0 && r.sum == 9.0 && r.total == 3 && r.notExists == 1)
    assert(r.avg == 3.0)
    assert(r.quantiles.toSeq == Seq(3.0))
  }

  test("deterministic bottom-k sketch: same result for ANY partition/merge order") {
    // (value, uid) pairs; the sample keeps the lowest mix64(uid) priorities
    val data = (1 to 20000).map(i => ((i * 37 % 20011).toDouble, i.toLong))
    def runPartitioned(chunks: Seq[Seq[(Double, Long)]], mergeLeft: Boolean) = {
      val bufs = chunks.map { c =>
        val b = DetOps.zero
        c.foreach { case (v, uid) => DetOps.add(b, v, uid) }
        b
      }
      val merged = if (mergeLeft) bufs.reduceLeft(DetOps.merge) else bufs.reduceRight(DetOps.merge)
      DetOps.finish(merged, Seq(0.5, 0.9))
    }
    val a = runPartitioned(data.grouped(977).toSeq, mergeLeft = true)
    val b = runPartitioned(scala.util.Random.shuffle(data).grouped(3001).toSeq, mergeLeft = false)
    val c = runPartitioned(Seq(data.reverse), mergeLeft = true)
    assert(a.quantiles.toSeq == b.quantiles.toSeq)
    assert(a.quantiles.toSeq == c.quantiles.toSeq)
    assert(a.total == 20000 && b.total == 20000)
    // accuracy envelope comparable to the reservoir
    assert(math.abs(a.quantiles(0) - 10005.0) / 10005.0 < 0.05)
  }

  test("Json.filterTopLevel: allow/deny lists on top-level fields only") {
    val doc = """{"a": 1, "b": {"a": "x}y", "c": [1,2]}, "c": "q\"r", "d": [true, {"e": 0}]}"""
    // deny list removes top-level keys, nested same-named keys untouched
    assert(graft.model.Json.filterTopLevel(doc, Set("a", "d"), allow = false) ==
      """{"b": {"a": "x}y", "c": [1,2]},"c": "q\"r"}""")
    // allow list keeps only the listed top-level keys
    assert(graft.model.Json.filterTopLevel(doc, Set("b"), allow = true) ==
      """{"b": {"a": "x}y", "c": [1,2]}}""")
    // allow of nothing empties the object
    assert(graft.model.Json.filterTopLevel(doc, Set(), allow = true) == "{}")
    // deny of nothing is identity (modulo separator normalization)
    assert(graft.model.Json.filterTopLevel("""{"a":1}""", Set(), allow = false) == """{"a":1}""")
    // non-object and malformed docs pass through verbatim
    assert(graft.model.Json.filterTopLevel("[1,2,3]", Set("a"), allow = false) == "[1,2,3]")
    assert(graft.model.Json.filterTopLevel("""{"a": """, Set("a"), allow = false) == """{"a": """)
    // escaped keys resolve before matching
    assert(graft.model.Json.filterTopLevel("""{"a": 1, "b": 2}""", Set("a"), allow = true) ==
      """{"a": 1}""")
  }

  test("Json.filterTopLevel: randomized structural invariants") {
    // seeded pseudo-random JSON objects with nested arrays/objects/
    // escaped strings; invariants: deny-nothing is identity, allow-all
    // keeps every key, allow/deny partition the keys, filtering is
    // idempotent, and output stays parseable by the same scanner
    val rnd = new scala.util.Random(42)
    def mkValue(depth: Int): String = rnd.nextInt(6) match {
      case 0 => rnd.nextInt(1000).toString
      case 1 => "\"s" + ("\\\"" * rnd.nextInt(2)) + "}{[,:" + rnd.nextInt(10) + "\""
      case 2 => "true"
      case 3 if depth < 2 =>
        (0 until rnd.nextInt(3)).map(i => s""""n$i": ${mkValue(depth + 1)}""")
          .mkString("{", ", ", "}")
      case 4 if depth < 2 =>
        (0 until rnd.nextInt(3)).map(_ => mkValue(depth + 1)).mkString("[", ", ", "]")
      case _ => "null"
    }
    for (_ <- 1 to 200) {
      val keys = (0 until (1 + rnd.nextInt(5))).map(i => s"k$i")
      val doc = keys.map(k => s""""$k": ${mkValue(0)}""").mkString("{", ", ", "}")
      import graft.model.Json.filterTopLevel
      // deny nothing: every key survives (formatting may normalize)
      val denyNone = filterTopLevel(doc, Set(), allow = false)
      keys.foreach(k => assert(denyNone.contains(s""""$k":"""), s"$doc -> $denyNone"))
      // allow-all == deny-none
      assert(filterTopLevel(doc, keys.toSet, allow = true) == denyNone)
      // allow/deny of the same set partition the keys
      val chosen = keys.filter(_ => rnd.nextBoolean()).toSet
      val allowed = filterTopLevel(doc, chosen, allow = true)
      val denied = filterTopLevel(doc, chosen, allow = false)
      keys.foreach { k =>
        assert(allowed.contains(s""""$k":""") == chosen(k), s"$doc allow $chosen -> $allowed")
        assert(denied.contains(s""""$k":""") != chosen(k), s"$doc deny $chosen -> $denied")
      }
      // idempotence
      assert(filterTopLevel(allowed, chosen, allow = true) == allowed)
    }
  }

  test("reservoir caps at 8096 and merge stays bounded") {
    val a = DetOps.zero
    val b = DetOps.zero
    for (v <- 1 to 10000) DetOps.add(a, v.toDouble, v.toLong)
    for (v <- 10001 to 20000) DetOps.add(b, v.toDouble, v.toLong)
    val m = DetOps.merge(a, b)
    assert(m.used <= SeqAggregates.ReservoirCap && m.samples.length <= SeqAggregates.ReservoirCap)
    val r = DetOps.finish(m, Seq(0.5, 0.99))
    assert(r.total == 20000 && r.min == 1.0 && r.max == 20000.0)
    // sampling accuracy: median within 5% of true median
    assert(math.abs(r.quantiles(0) - 10000.0) / 10000.0 < 0.05)
  }
}
