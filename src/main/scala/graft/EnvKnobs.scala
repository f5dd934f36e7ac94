package graft

/** Integer environment knobs of the mains, validated before a Spark
  * session starts rather than inside Spark's master-URL parser.
  */
object EnvKnobs {

  /** Env knob `name` as an integer ≥ 1 (`default` when unset); anything
    * else fails naming the variable.
    */
  def positiveInt(name: String, default: Int,
      env: Map[String, String] = sys.env): Int = {
    val raw = env.getOrElse(name, default.toString)
    raw.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"$name must be an integer >= 1, got '$raw'"))
  }
}
