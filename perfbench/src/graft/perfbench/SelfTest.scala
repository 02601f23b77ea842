package graft.perfbench

/** Self-tests of the harness itself (no Spark session needed):
  * generator determinism, the tail-percentile helper, and failure counting. */
object SelfTest {
  private var passed = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    if (!ok) throw new AssertionError(s"self-test $name failed $detail")
    passed += 1
    println(s"ok   $name")
  }

  def run(): Unit = {
    def sizes(ts: Seq[Gen.Table]) = ts.map(t => t.name -> t.rows.size)
    def bytes(ts: Seq[Gen.Table]) = Gen.render(ts)
    Seq[(String, Long => Seq[Gen.Table])](
      "star" -> (s => Gen.star(s, 700)),
      "corpus" -> (s => Gen.corpus(s, 300, 200))).foreach { case (name, gen) =>
      val (a, b, c) = (gen(7), gen(7), gen(8))
      expect(s"$name: same seed, byte-identical inputs", bytes(a).sameElements(bytes(b)))
      expect(s"$name: other seed, different inputs", Gen.digest(bytes(a)) != Gen.digest(bytes(c)))
      expect(s"$name: other seed, same size", sizes(a) == sizes(c), s"${sizes(a)} vs ${sizes(c)}")
    }
    def snaps(seed: Long) = { val g = new Coins(seed, 200); Seq.fill(4)(g.next()) }
    val (a, b, c) = (snaps(7), snaps(7), snaps(8))
    expect("coins: same seed, byte-identical snapshots", a == b)
    expect("coins: other seed, different snapshots", a.zip(c).forall { case (x, y) => x != y })
    def objects(s: String) = s.linesIterator.count(_.startsWith("{"))
    expect("coins: other seed, same size", objects(a.head) == objects(c.head) && objects(a.head) == 200)

    expect("tail: n=100 is p90 with 10 beyond",
      Stats.tail((1 to 100).map(_.toDouble)).contains(Stats.Tail(90, 90.0, 100, 10)))
    expect("tail: n=10 has no tail", Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val wrong = (11 to 400).filterNot { n =>
      val xs = (1 to n).reverse.map(_.toDouble)
      val t = Stats.tail(xs).get
      val next = ((t.pct + 1L) * n + 99) / 100
      t.beyond >= 10 && xs.count(_ > t.value) == t.beyond && n - next < 10
    }
    expect("tail: for n = 11..400 the highest percentile with >= 10 samples beyond",
      wrong.isEmpty, s"wrong for n = ${wrong.take(5)}")

    val runner = new Runner(new Tracer(null, register = false))
    val r = runner.op("boom", "bench")(throw new IllegalStateException("on purpose"))
    expect("runner: a throwing op counts as attempted and failed, with no sample",
      r.isEmpty && runner.attempted == 1 && runner.failed == 1 && runner.errors.size == 1)
    runner.op("fine", "bench")(42)
    expect("runner: a passing op is not failed", runner.attempted == 2 && runner.failed == 1)
    runner.check("deliberate", ok = false, "on purpose")
    expect("runner: a failed check counts as failed", runner.attempted == 3 && runner.failed == 2)

    println(s"self-test: $passed passed")
  }
}
