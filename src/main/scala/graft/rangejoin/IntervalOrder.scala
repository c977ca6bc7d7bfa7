package graft.rangejoin

/**
 * The one sort behind every interval build: a permutation of `0 until n`
 * that orders intervals by start, then by end (descending or ascending),
 * with ties broken on input position — so duplicate intervals keep their
 * input order and nearest / as-of picks are reproducible.
 *
 * Primitive throughout: Int32 bounds pack (start, end) into one Long key
 * and sort once; Int64 bounds sort twice (end, then start), which the
 * stability of the sort turns into the same composite order. No boxing,
 * no `Ordering`, and input that is already in order costs one linear pass.
 */
object IntervalOrder {

  /** Permutation ordering `(starts(i), ends(i))` by start ascending, then
    * end descending (`endDescending`) or ascending, then input position. */
  def byStartEnd(starts: Array[Int], ends: Array[Int],
      endDescending: Boolean): Array[Int] = {
    val n = starts.length
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) {
      // signed start in the high half, end mapped to an unsigned 32-bit
      // rank in the low half: one signed Long compare = (start, end) order
      val low =
        if (endDescending) Int.MaxValue.toLong - ends(i)
        else ends(i).toLong - Int.MinValue
      keys(i) = (starts(i).toLong << 32) | low
      i += 1
    }
    sortedPermutation(keys)
  }

  /** Int64 twin of the Int32 [[byStartEnd]] — same order. */
  def byStartEnd(starts: Array[Long], ends: Array[Long],
      endDescending: Boolean): Array[Int] = {
    val n = starts.length
    val keys = new Array[Long](n)
    var i = 0
    // `~e` reverses the order of e without overflow (~e = -e - 1)
    while (i < n) { keys(i) = if (endDescending) ~ends(i) else ends(i); i += 1 }
    val perm = sortedPermutation(keys)
    i = 0
    while (i < n) { keys(i) = starts(perm(i)); i += 1 }
    // stable second pass: equal starts keep the end order of the first
    stableSort(keys, perm)
    perm
  }

  /** Permutation ordering `starts` ascending, ties on input position. */
  def byStart(starts: Array[Long]): Array[Int] =
    sortedPermutation(starts.clone())

  /** Gather `values` through a permutation: out(i) = values(perm(i)). */
  def permute(values: Array[Int], perm: Array[Int]): Array[Int] = {
    val out = new Array[Int](perm.length)
    var i = 0
    while (i < perm.length) { out(i) = values(perm(i)); i += 1 }
    out
  }

  def permute(values: Array[Long], perm: Array[Int]): Array[Long] = {
    val out = new Array[Long](perm.length)
    var i = 0
    while (i < perm.length) { out(i) = values(perm(i)); i += 1 }
    out
  }

  /** Stable sort of `keys` (consumed) returning the permutation. */
  private def sortedPermutation(keys: Array[Long]): Array[Int] = {
    val perm = Array.range(0, keys.length)
    stableSort(keys, perm)
    perm
  }

  /** Stable in-place sort of `keys`, moving `perm` alongside: LSD radix
    * sort, one byte per pass, over the sign-flipped keys (their unsigned
    * order is the signed order); a byte that every key shares costs no
    * pass, so narrow coordinates take a few passes. */
  private def stableSort(keys: Array[Long], perm: Array[Int]): Unit = {
    val n = keys.length
    var i = 1
    while (i < n && keys(i - 1) <= keys(i)) i += 1
    if (i >= n) return // already in order
    var varying = 0L
    i = 1
    while (i < n) { varying |= keys(i) ^ keys(0); i += 1 }
    var k = keys; var p = perm
    var tk = new Array[Long](n); var tp = new Array[Int](n)
    val count = new Array[Int](256)
    var shift = 0
    while (shift < 64) {
      if (((varying >>> shift) & 0xFF) != 0) {
        java.util.Arrays.fill(count, 0)
        i = 0
        while (i < n) { count(digit(k(i), shift)) += 1; i += 1 }
        var sum = 0
        var b = 0
        while (b < 256) { val c = count(b); count(b) = sum; sum += c; b += 1 }
        i = 0
        while (i < n) {
          val d = digit(k(i), shift)
          val o = count(d)
          tk(o) = k(i); tp(o) = p(i)
          count(d) = o + 1
          i += 1
        }
        val sk = k; k = tk; tk = sk
        val sp = p; p = tp; tp = sp
      }
      shift += 8
    }
    if (k ne keys) {
      System.arraycopy(k, 0, keys, 0, n)
      System.arraycopy(p, 0, perm, 0, n)
    }
  }

  @inline private def digit(key: Long, shift: Int): Int =
    (((key ^ Long.MinValue) >>> shift) & 0xFF).toInt
}
