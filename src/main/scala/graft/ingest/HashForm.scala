package graft.ingest

/** The persisted hash form of a store's keys.
  *
  * Each hashed store keys on a content-derived hash; two wire forms
  * exist: `"md5"` (32-char string — byte-identical with the
  * oracle-checked in-corpus queries) and `"xxh64"` (8-byte long — 4×
  * less store and exchange per key, the 100 TB form). The form is a
  * property of the RECORDED DATA, not of any one call: a store recorded
  * as xxhash64 longs can only ever match xxhash64 probes. The
  * [[StoreLayout]] persists it next to the data (a `<store>.hashform`
  * sibling, or a `graft.*.hashform` table property that compaction's
  * swap carries), which makes every probe self-configuring and a
  * mixed-form store impossible.
  */
private[graft] object HashForm {

  val Md5 = "md5"
  val Xx = "xxh64"

  def validate(form: String): Unit =
    require(form == Md5 || form == Xx,
      s"unknown hash form $form (use $Md5 or $Xx)")

  /** Resolve an explicit-or-empty caller form against the store's
    * recorded one: empty FOLLOWS the store (md5 for a fresh store) —
    * so a long-running appender needs no form plumbing and can never
    * trip the mixed-form guard against a store someone declared xxh64.
    */
  def resolve(explicit: String, stored: => String): String =
    if (explicit.isEmpty) stored else explicit
}
