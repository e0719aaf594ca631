package graft.core

/** Positive-integer settings read from environment variables: `None` when
  * the variable is unset, and an error naming the variable and the value
  * when it is set to anything but a positive integer. Each takes the
  * environment as a map so it can be tested without touching the process
  * environment. */
object Env {

  def positiveInt(name: String, env: Map[String, String] = sys.env): Option[Int] =
    parse(name, env, _.toIntOption.filter(_ > 0))

  def positiveLong(name: String, env: Map[String, String] = sys.env): Option[Long] =
    parse(name, env, _.toLongOption.filter(_ > 0))

  private def parse[T](name: String, env: Map[String, String], read: String => Option[T]): Option[T] =
    env.get(name).map(v => read(v).getOrElse(throw new IllegalArgumentException(
      s"$name must be a positive integer, got '$v'")))
}
