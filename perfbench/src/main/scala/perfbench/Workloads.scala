package perfbench

import scala.util.Random

/** One unit of work in the closed loop; its latency is one sample. */
sealed trait Op { def name: String }
/** A registered query (`Queries.all`), collected in full and fingerprinted. */
final case class QueryOp(name: String) extends Op
/** One transaction: begin, insert one batch per slice, commit or abort. */
final case class TxnOp(id: Int, table: String, slices: Seq[Int], commit: Boolean) extends Op {
  def name = s"txn.${if (commit) "commit" else "abort"}"
}
/** Checkpoint, then compact, every transactional table. */
final case class MaintenanceOp() extends Op { def name = "txn.maintenance" }
/** Begin a transaction and insert a batch that is never committed. */
final case class InflightOp(table: String, slice: Int) extends Op { def name = "txn.inflight" }
/** crash(), reopen, recover and read every table's committed rows. */
final case class RecoverOp() extends Op { def name = "txn.recover_read" }

/** The three workloads and the seeded plans they run. */
object Workloads {
  /** TPC-H-family multi-table joins (Selinger-ordered) and two single-table
    * aggregates. */
  val OlapJoins: IndexedSeq[String] = IndexedSeq(
    "q05_join_opt", "q52_tpch_q3", "q53_tpch_q5", "q54_tpch_q6", "q55_tpch_q10",
    "q69_tpch_q4", "q73_tpch_q2", "q75_tpch_q13", "q76_tpch_q18", "q86_tpch_q8",
    "q87_tpch_q9", "q89_tpch_q12")

  /** Dedup and similarity over the document corpus and embeddings: hash
    * kernels (tokensets, fingerprints, MinHash, winnowing), set-similarity
    * verification, sparse cosine and embedding near-duplicates. */
  val CorpusSimilarity: IndexedSeq[String] = IndexedSeq(
    "q21_dedup_tokenset", "q25_fingerprint", "q26_minhash", "q28_embed_neardup",
    "q137_winnowing", "q147_cosine_pairs", "q206_set_similarity_join",
    "q231_containment_join")

  /** Stream queries of ingest_writes: a stream-stream join (q62) and dedup
    * state (q64), both committing RocksDB state every trigger. */
  val IngestStreams: IndexedSeq[String] = IndexedSeq("q62_stream_join", "q64_stream_dedup")

  val Names: Seq[String] = Seq("olap_joins", "corpus_similarity", "ingest_writes")

  /** The tables each workload reads: set-up opens them and loads their
    * statistics, which is all the Selinger rule consults for these ops.
    */
  def tables(workload: String): Seq[String] = workload match {
    case "olap_joins" => Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    case "corpus_similarity" => Seq("documents", "embeddings")
    case _ => Seq("orders", "lineitem", "events")
  }

  /** A query run once at the end of set-up, the same for every seed, so
    * that the first timed op does not pay the process's generic warm-up
    * (JIT of the shared scan/join/aggregate, kernel or streaming paths)
    * depending on which op the seed put first. It is kin of the timed ops,
    * not one of them.
    */
  def warmup(workload: String): Seq[String] = workload match {
    case "olap_joins" => Seq("q51_tpch_q1")
    case "corpus_similarity" => Seq("q183_minhash_error")
    case _ => Seq("q190_stream_dedup_within")
  }

  /** Mean length of one round on the 4-core reference box, over the first
    * four rounds of a process (the first round also compiles every query
    * and runs 1.3-2 times as long as the later ones). `--seconds` buys
    * `max(1, round(seconds / roundSeconds))` whole rounds, so every run of
    * a workload does the same work whatever the box's speed.
    */
  def roundSeconds(workload: String): Double = workload match {
    case "olap_joins" => 8.0
    case "corpus_similarity" => 7.5
    case _ => 9.0
  }

  def rounds(workload: String, seconds: Int): Int =
    math.max(1, math.round(seconds / roundSeconds(workload)).toInt)

  /** Every query whose result the benchmark fingerprints. */
  val AllQueries: Seq[String] =
    OlapJoins ++ CorpusSimilarity ++ IngestStreams ++ Names.flatMap(warmup)

  /** Transactional tables: name -> (source table, key column, columns kept). */
  val TxnTables: Seq[(String, String, String, Seq[String])] = Seq(
    ("orders", "orders", "o_orderkey",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")),
    ("lineitem", "lineitem", "l_orderkey",
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")))
  /** Slice j of a source table holds the rows with key % Slices == j. */
  val Slices = 64

  /** Shape of one ingest round's transaction plan. */
  object TxnShape {
    val txns = 6
    val batchesPerTxn = 2
    val aborts = 2
    val maintenanceEvery = 3
  }

  private def rng(seed: Long, round: Int, stream: Int): Random =
    new Random(seed * 1000003L + round * 7919L + stream)

  /** The seeded order of a query round. */
  def queryRound(ops: IndexedSeq[String], seed: Long, round: Int): IndexedSeq[Op] =
    rng(seed, round, 1).shuffle(ops).map(QueryOp(_))

  /** The seeded transaction plan of one ingest round. The seed picks which
    * transactions abort, which table each writes and which slices it
    * inserts; the counts (transactions, batches, aborts, tables) are fixed
    * so that every seed does the same amount of work. Transaction ids
    * continue from `firstId`.
    */
  def txnPlan(seed: Long, round: Int, firstId: Int): IndexedSeq[TxnOp] = {
    val shape = TxnShape
    val r = rng(seed, round, 2)
    val aborts = r.shuffle((0 until shape.txns).toVector).take(shape.aborts).toSet
    val tables = r.shuffle(Vector.tabulate(shape.txns)(i => TxnTables(i % TxnTables.size)._1))
    val slicePools = TxnTables.map { case (t, _, _, _) => t -> r.shuffle((0 until Slices).toList) }.toMap
    val used = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until shape.txns).map { i =>
      val t = tables(i)
      val from = used(t)
      used(t) = from + shape.batchesPerTxn
      val slices = (from until from + shape.batchesPerTxn).map(slicePools(t))
      TxnOp(firstId + i, t, slices, commit = !aborts(i))
    }
  }

  /** One ingest round: the transaction plan with a checkpoint and a
    * compaction after every `maintenanceEvery` transactions, the stream
    * queries merged in at seeded positions, then an in-flight transaction
    * and the crash/reopen/read that ends the round.
    */
  def ingestRound(seed: Long, round: Int, firstId: Int): IndexedSeq[Op] = {
    val shape = TxnShape
    val txns = txnPlan(seed, round, firstId)
    val writes: IndexedSeq[Op] = txns.zipWithIndex.flatMap { case (t, i) =>
      if ((i + 1) % shape.maintenanceEvery == 0) Seq(t, MaintenanceOp()) else Seq(t)
    }
    val r = rng(seed, round, 3)
    val streams = r.shuffle(IngestStreams).map(QueryOp(_))
    // seeded interleave that keeps each sequence's own order
    val slots = r.shuffle(Vector.fill(writes.size)(true) ++ Vector.fill(streams.size)(false))
    val (w, s) = (writes.iterator, streams.iterator)
    val merged = slots.map(isWrite => if (isWrite) w.next() else s.next())
    val inflightTable = TxnTables(r.nextInt(TxnTables.size))._1
    merged ++ Seq(InflightOp(inflightTable, r.nextInt(Slices)), RecoverOp())
  }

  def round(workload: String, seed: Long, round: Int, firstTxnId: Int): IndexedSeq[Op] =
    workload match {
      case "olap_joins" => queryRound(OlapJoins, seed, round)
      case "corpus_similarity" => queryRound(CorpusSimilarity, seed, round)
      case "ingest_writes" => ingestRound(seed, round, firstTxnId)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
    }
}
