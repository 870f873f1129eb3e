package graft

import org.apache.spark.sql.functions._

/** Semantics + plan pins for the BPE tokenizer fit. */
class BpeFitSpec extends SparkSpec {
  import spark.implicits._

  test("greedy merge fold: chains consume left-to-right, merged token carries on") {
    graft.functions.Native.register(spark)
    // pair (a,a) over 'aaa' -> [aa, a]; over 'aaaa' -> [aa, aa]
    val df = Seq("aaa", "aaaa", "aba").toDF("w")
      .withColumn("syms", expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
      .withColumn("a", lit("a")).withColumn("b", lit("a"))
      .withColumn("m", expr(
        """aggregate(syms,
          |  named_struct('o', CAST(array() AS ARRAY<STRING>), 'c', ''),
          |  (acc, x) -> CASE
          |    WHEN acc.c = '' THEN named_struct('o', acc.o, 'c', x)
          |    WHEN acc.c = a AND x = b
          |      THEN named_struct('o', array_append(acc.o, concat(a, b)), 'c', '')
          |    ELSE named_struct('o', array_append(acc.o, acc.c), 'c', x) END,
          |  acc -> CASE WHEN acc.c = '' THEN acc.o
          |              ELSE array_append(acc.o, acc.c) END)""".stripMargin))
      .select(col("w"), array_join(col("m"), "|").as("m"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(df("aaa") == "aa|a")
    assert(df("aaaa") == "aa|aa")
    assert(df("aba") == "a|b|a")
  }

  test("round-1's learned pair cannot survive into round-2 statistics") {
    val out = graft.text.BpeFit.bpeFit(spark, sfDir).collect()
    val learned = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 1L).get.getString(2)
    val r2pairs = out.filter(_.getLong(0) == 2L).map(_.getString(2)).toSet
    assert(!r2pairs.contains(learned), s"merged pair $learned reappears in round 2")
    // ranks dense 1..10 per round, counts non-increasing within a round
    Seq(1L, 2L).foreach { rd =>
      val rows = out.filter(_.getLong(0) == rd).sortBy(_.getLong(1))
      assert(rows.map(_.getLong(1)).toSeq == (1L to 10L))
      val counts = rows.map(_.getLong(3)).toSeq
      assert(counts == counts.sorted.reverse, counts.toString)
    }
  }

  test("bpe_apply: token counts shrink from chars toward words, never past either bound") {
    val out = graft.text.BpeFit.bpeApply(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nw, nc, nb) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nb <= nc, s"bpe tokens $nb exceed char symbols $nc")
      assert(nb >= nw, s"bpe tokens $nb below word count $nw")
    }
    // the two merges actually fired somewhere
    val (chars, bpe) = out.foldLeft((0L, 0L)) { case ((c, b), r) =>
      (c + r.getLong(2), b + r.getLong(3)) }
    assert(bpe < chars, s"no merge applied: $bpe vs $chars")
  }

  test("bpe_apply plan: vocabulary broadcasts onto the exploded corpus") {
    val p = graft.text.BpeFit.bpeApply(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("plan: corpus scanned once — everything downstream runs on the checkpointed word table") {
    val p = graft.text.BpeFit.bpeFit(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the word count is localCheckpointed before fan-out, so the final
    // plan reads the RDD checkpoint, never the parquet corpus
    assert(!p.toLowerCase.contains("parquet"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(3000))
  }
}
