package perfbench

import java.util.{SplittableRandom, UUID}

/** Seeded, reference-shaped rewards/transactions generator for the cashback
  * ELT workload, in plain Scala (no Spark). It follows the column profile of
  * the reference extracts (FIXTURES.md §A1–A2) and keeps every edge the
  * pipeline must survive: apostrophes inside dict-literal payloads
  * (`"Domino's Pizza"`, `"Mery's Market Barcelo"`), 3-level
  * `fiat_transaction` literals, numeric `type` codes mixed with enum names,
  * null and `Rejected by admin` reasons, null `reference_id`, rewards whose
  * reference matches no transaction, and dates across 2024.
  *
  * The same rows render as header CSV extracts (what `Pipeline.run` reads
  * from files) and as the JSON array payloads an `ApiIngest.Client` returns.
  * [[Invariants]] are computed here, from the generated values, so the
  * pipeline's output can be checked without trusting Spark.
  */
object Generator {

  final case class Transaction(id: String, model: String, amount: Long, date: String,
                               ttype: String, isDebit: Option[Boolean],
                               description: Option[String])

  final case class Reward(id: String, amount: String, rebateRate: Int, rtype: String,
                          referenceType: String, referenceId: Option[String],
                          available: Boolean, reason: Option[String], baseRate: Int,
                          stakingRate: Int, subscriptionPlan: Option[String],
                          exchangeRateId: Option[String], fiatAmountRewarded: Option[String],
                          createdAt: String, updatedAt: String,
                          contis: Option[String], fiat: Option[String])

  /** `history` is the first load; `delta` the new rows a daily pull adds. */
  final case class Data(history: Seq[Reward], historyTx: Seq[Transaction],
                        delta: Seq[Reward], deltaTx: Seq[Transaction])

  /** What a correct warehouse holds after loading `rewards` (joined with
    * `txs`): one row per reward, Σ`transaction_amount`, Σ`plu_price` per the
    * elt.py formula, and the rows with a null `transaction_id`. */
  final case class Invariants(rows: Long, sumTransactionAmount: Double,
                              sumPluPrice: Double, nullTransactionIds: Long)

  /** Transactions fall on the first `Days` days of 2024. With the ELT's
    * scale this keeps about 70 rows per written file, as a full year does at
    * 100 times the rows. */
  val Days = 60

  val UserId = "5f0c8c7e-3d64-4b1a-9a5e-2f1f3c0b7a11"

  private val txTypes = Array("CARD_SETTLEMENT", "CARD_SETTLEMENT", "CARD_SETTLEMENT",
    "CARD_AUTHORISATION", "CARD_REFUND", "DEPOSIT_FUNDS_RECEIVED", "DIRECT_DEBIT",
    "FASTER_PAYMENT_OUT", "FEE", "INTEREST", "31", "29", "35", "45", "5", "0")
  private val merchants = Array("CRV*PIZZA HUT AIPC HIG", "TESCO STORES 3391", "Domino's Pizza",
    "Mery's Market Barcelo", "AMAZON.CO.UK*2R4", "TFL TRAVEL CH", "PRET A MANGER", "SAINSBURY'S S/MKT",
    "UBER *TRIP", "NETFLIX.COM", "COSTA COFFEE 4312", "McDONALD'S, LONDON")
  private val referenceTypes = Array("contis_transactions", "fiat_transactions",
    "contis_transactions_partial", "fiat_transactions_partial", "perk_amazon_reward",
    "perk_netflix_reward", "perk_spotify_reward", "perk_deliveroo_reward", "perk_uber_reward",
    "perk_tesco_reward", "perk_costa_reward", "perk_pret_reward", "perk_nike_reward",
    "perk_asos_reward", "perk_airbnb_reward", "perk_apple_reward", "perk_steam_reward",
    "manual_reward", "referring_reward")
  private val reasons = Array("Automated approval. Trx below 500", "Automated approval after 45 days",
    "Approved by admin", "Pending settlement", "Perk reward", "Rejected by admin")
  private val plans = Array("premium", "everyday", "basic")

  private def uuid(r: SplittableRandom): String = new UUID(r.nextLong(), r.nextLong()).toString

  private def pick[A](r: SplittableRandom, xs: Array[A]): A = xs(r.nextInt(xs.length))

  /** 2024 timestamp parts: (day, second of day, micros). */
  private def instant(r: SplittableRandom): (java.time.LocalDate, Int, Int) =
    (java.time.LocalDate.of(2024, 1, 1).plusDays(r.nextInt(Days)), r.nextInt(86400), r.nextInt(1000000))

  private def hms(sec: Int): String = f"${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"

  private def transaction(r: SplittableRandom): Transaction = {
    val (day, sec, us) = instant(r)
    val debit = r.nextDouble() < 0.85
    val pence = 50L + r.nextInt(25000)
    Transaction(uuid(r), if (r.nextDouble() < 0.53) "ContisTransaction" else "FiatTransaction",
      if (debit) -pence else pence, f"$day ${hms(sec)}.$us%06d+00:00", pick(r, txTypes),
      if (r.nextDouble() < 0.47) None else Some(debit),
      if (r.nextDouble() < 0.27) None else Some(pick(r, merchants)))
  }

  /** Python `repr` of a str: single quotes, unless the value holds one. */
  private def pyStr(s: String): String = if (s.contains('\'')) "\"" + s + "\"" else s"'$s'"

  private def reward(r: SplittableRandom, tx: Option[Transaction]): Reward = {
    val (day, sec, ms) = instant(r)
    val created = f"${day}T${hms(sec)}.${ms / 1000}%03dZ"
    val updated = f"${day.plusDays(r.nextInt(3))}T${hms(sec)}.${ms / 1000}%03dZ"
    val rebate = Array(0, 3, 3, 3, 4, 5)(r.nextInt(6))
    val fiatPence = if (r.nextDouble() < 0.004) None else Some(s"${10 + r.nextInt(2000)}.0")
    val reason = r.nextDouble() match {
      case u if u < 0.033 => None
      case u if u < 0.113 => Some("Rejected by admin")
      case _ => Some(pick(r, reasons.init))
    }
    val refId = tx.map(_.id).orElse(if (r.nextDouble() < 0.5) None else Some(uuid(r)))
    val desc = tx.flatMap(_.description).getOrElse(pick(r, merchants))
    val amountPounds = tx.map(t => math.abs(t.amount) / 100.0).getOrElse(10.0)
    val contis = if (r.nextDouble() < 0.36) None else Some(
      s"{'description': ${pyStr(desc)}, 'currency': 'GBP', 'transaction_amount': '$amountPounds', 'settled': ${if (r.nextBoolean()) "True" else "False"}}")
    val fiat = if (r.nextDouble() < 0.68) None else Some(
      s"{'id': '${uuid(r)}', 'clean_description': ${pyStr(desc)}, 'mcc': '${5000 + r.nextInt(999)}', " +
        s"'merchantIcon': 'https://icons.example.com/m/${r.nextInt(5000)}.png', 'card_transactions': " +
        s"{'api_response': {'TransactionAmount': '${tx.map(_.amount).getOrElse(0L)}', 'Reference': None}}}")
    Reward(uuid(r), f"${0.001 + r.nextDouble() * 2}%.8f", rebate,
      if (r.nextDouble() < 0.996) "DAILY_REBATE_DISTRIBUTION" else "REBATE_BONUS",
      pick(r, referenceTypes), refId, r.nextDouble() < 0.9, reason,
      if (rebate == 0) 0 else 3, Array(0, 2, 3)(r.nextInt(3)),
      if (r.nextDouble() < 0.2) None else Some(pick(r, plans)),
      if (r.nextDouble() < 0.3) None else Some(uuid(r)), fiatPence, created, updated, contis, fiat)
  }

  /** `nRewards` history rewards over about 1.66 transactions per reward (the
    * reference's 2,909 / 1,753), plus a delta of `deltaFrac` new rewards,
    * each with its own new transaction. About 1% of rewards reference no
    * transaction that exists (half with a null `reference_id`). */
  def generate(seed: Long, nRewards: Int, deltaFrac: Double): Data = {
    val r = new SplittableRandom(seed)
    val nTx = (nRewards * 2909L / 1753).toInt
    val historyTx = Vector.fill(nTx)(transaction(r))
    // rewards reference distinct transactions, as the reference's do: a
    // partial Fisher-Yates shuffle draws the first nRewards of them
    val refs = Array.range(0, nTx)
    (0 until nRewards).foreach { i =>
      val j = i + r.nextInt(nTx - i)
      val t = refs(i); refs(i) = refs(j); refs(j) = t
    }
    val history = refs.take(nRewards).toVector.map(i => reward(r, if (r.nextDouble() < 0.01) None else Some(historyTx(i))))
    val nDelta = math.max(1, (nRewards * deltaFrac).round.toInt)
    val deltaTx = Vector.fill(nDelta)(transaction(r))
    Data(history, historyTx, deltaTx.map(t => reward(r, Some(t))), deltaTx)
  }

  /** Expected warehouse content after loading `rewards` against `txs`,
    * evaluating the transform's formulas in its own operation order. */
  def invariants(rewards: Seq[Reward], txs: Seq[Transaction]): Invariants = {
    val byId = txs.iterator.map(t => t.id -> t).toMap
    var sumAmount, sumPrice = 0.0
    var nullTx = 0L
    rewards.foreach { rw =>
      val tx = rw.referenceId.flatMap(byId.get)
      if (tx.isEmpty) nullTx += 1
      val plu = rw.amount.toDouble
      tx.foreach(t => sumAmount += math.abs(t.amount) / 100.0)
      val price =
        if (rw.rebateRate == 0) rw.fiatAmountRewarded.map(_.toDouble / plu)
        else tx.map(t => math.abs(t.amount) / 100.0 * rw.rebateRate / plu)
      price.foreach(sumPrice += _)
    }
    Invariants(rewards.size.toLong, sumAmount, sumPrice, nullTx)
  }

  // --- rendering --------------------------------------------------------

  val TxHeader = Seq("id", "model", "user_id", "currency", "amount", "date", "type",
    "is_debit", "description", "__typename")
  val RewardHeader = Seq("id", "user_id", "amount", "rebate_rate", "type", "reference_type",
    "reference_id", "available", "reason", "base_rate", "staking_rate", "subscription_plan",
    "exchange_rate_id", "fiat_amount_rewarded", "approved_by", "createdAt", "updatedAt",
    "contis_transaction", "fiat_transaction")

  private def pyBool(b: Boolean) = if (b) "True" else "False"

  /** Raw field values in header order; None is an empty CSV field / JSON
    * null. The Boolean/Number tag tells the JSON renderer what is unquoted. */
  private sealed trait V
  private final case class S(s: String) extends V
  private final case class N(s: String) extends V
  private final case class B(b: Boolean) extends V

  private def txFields(t: Transaction): Seq[Option[V]] = Seq(Some(S(t.id)), Some(S(t.model)),
    Some(S(UserId)), Some(S("GBP")), Some(N(t.amount.toString)), Some(S(t.date)), Some(S(t.ttype)),
    t.isDebit.map(B), t.description.map(S), Some(S("transactions_view")))

  private def rewardFields(w: Reward): Seq[Option[V]] = Seq(Some(S(w.id)), Some(S(UserId)),
    Some(N(w.amount)), Some(N(w.rebateRate.toString)), Some(S(w.rtype)), Some(S(w.referenceType)),
    w.referenceId.map(S), Some(B(w.available)), w.reason.map(S), Some(N(w.baseRate.toString)),
    Some(N(w.stakingRate.toString)), w.subscriptionPlan.map(S), w.exchangeRateId.map(S),
    w.fiatAmountRewarded.map(N), None, Some(S(w.createdAt)), Some(S(w.updatedAt)),
    w.contis.map(S), w.fiat.map(S))

  private def csvField(v: Option[V]): String = v match {
    case None => ""
    case Some(B(b)) => pyBool(b)
    case Some(N(s)) => s
    case Some(S(s)) =>
      if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\"" else s
  }

  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def jsonField(v: Option[V]): String = v match {
    case None => "null"
    case Some(B(b)) => b.toString
    case Some(N(s)) => s
    case Some(S(s)) => jsonString(s)
  }

  private def csvLines(header: Seq[String], rows: Seq[Seq[Option[V]]]): Iterator[String] =
    Iterator.single(header.mkString(",")) ++ rows.iterator.map(_.map(csvField).mkString(","))

  private def json(header: Seq[String], rows: Seq[Seq[Option[V]]]): String = {
    val keys = header.map(jsonString)
    rows.iterator.map(fs => keys.zip(fs).map { case (k, v) => s"$k:${jsonField(v)}" }
      .mkString("{", ",", "}")).mkString("[", ",", "]")
  }

  def transactionsJson(txs: Seq[Transaction]): String = json(TxHeader, txs.map(txFields))
  def rewardsJson(rws: Seq[Reward]): String = json(RewardHeader, rws.map(rewardFields))

  /** Write `rows` as `parts` header CSV files under `dir`, the way a
    * multi-file extract lands: Spark reads them as one split each. */
  private def writeCsv(dir: java.io.File, header: Seq[String], rows: Seq[Seq[Option[V]]],
                       parts: Int): Unit = {
    dir.mkdirs()
    val per = (rows.size + parts - 1) / parts
    rows.grouped(math.max(1, per)).zipWithIndex.foreach { case (chunk, i) =>
      val w = new java.io.PrintWriter(new java.io.File(dir, f"part-$i%03d.csv"), "UTF-8")
      try csvLines(header, chunk).foreach(w.println) finally w.close()
    }
  }

  def writeTransactionsCsv(dir: java.io.File, txs: Seq[Transaction], parts: Int): Unit =
    writeCsv(dir, TxHeader, txs.map(txFields), parts)
  def writeRewardsCsv(dir: java.io.File, rws: Seq[Reward], parts: Int): Unit =
    writeCsv(dir, RewardHeader, rws.map(rewardFields), parts)
}
