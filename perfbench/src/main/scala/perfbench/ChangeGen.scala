package perfbench

/** One row of the benchmark's keyed table. `amount` keeps the decimal text
  * the generator sent, so the expected double is parsed from the same
  * characters the engine parsed.
  */
final case class Row(id: Long, version: Long, amount: String, tag: String) {
  def json: String =
    s"""{"id":$id,"version":$version,"amount":$amount,"tag":"$tag"}"""
}

/** One change as the webhook contract carries it: POST creates a key, PUT
  * replaces its row, DELETE removes it (the body then holds only the key).
  */
final case class Change(verb: String, row: Row) {
  def dataJson: String = if (verb == "DELETE") s"""{"id":${row.id}}""" else row.json

  /** The envelope the webhook endpoint pushes into its channel. */
  def envelope: String = s"""{"verb":"$verb","data":$dataJson}"""
}

/** Seeded change stream over `keys` keys, skewed toward low ids: a key is
  * drawn as floor(u^2 * keys). A key is created on its first touch (and
  * again after a delete); a live key then gets 85% updates and 15% deletes.
  */
final class ChangeGen(seed: Long, keys: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val live = new java.util.HashMap[Long, Row]()

  def next(): Change = {
    val u = rnd.nextDouble()
    val id = (u * u * keys).toLong
    val cur = live.get(id)
    val change =
      if (cur == null) Change("POST", fresh(id, 1L))
      else if (rnd.nextDouble() < 0.85) Change("PUT", fresh(id, cur.version + 1))
      else Change("DELETE", cur)
    if (change.verb == "DELETE") live.remove(id) else live.put(id, change.row)
    change
  }

  private def fresh(id: Long, version: Long): Row = {
    val cents = rnd.nextLong(0L, 10000000L)
    Row(id, version, f"${cents / 100}%d.${cents % 100}%02d", s"t${rnd.nextInt(1000)}")
  }
}

/** The expected table: accepted changes applied to a plain key -> row map,
  * with upsert semantics (POST and PUT store the row, DELETE drops the
  * key). Built apart from the engine's change model on purpose, so the two
  * cannot share a mistake.
  */
final class Reference {
  private val rows = new java.util.HashMap[Long, Row]()

  def apply(c: Change): Unit =
    if (c.verb == "DELETE") rows.remove(c.row.id) else rows.put(c.row.id, c.row)

  /** Mismatches between the reference and `(id, version, amount, tag)`
    * tuples read from the sink, up to `limit` described.
    */
  def diff(got: Seq[(Long, Long, Double, String)], limit: Int = 3): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val seen = new java.util.HashSet[Long]()
    got.foreach { case (id, v, a, t) =>
      if (!seen.add(id)) out += s"id $id appears twice"
      val want = rows.get(id)
      if (want == null) out += s"id $id present, expected absent"
      else if (want.version != v || want.amount.toDouble != a || want.tag != t)
        out += s"id $id = ($v, $a, $t), expected (${want.version}, ${want.amount}, ${want.tag})"
    }
    if (seen.size != rows.size)
      out += s"${rows.size} keys expected, ${seen.size} present"
    out.take(limit).toSeq ++
      (if (out.size > limit) Seq(s"... ${out.size - limit} more") else Nil)
  }
}
