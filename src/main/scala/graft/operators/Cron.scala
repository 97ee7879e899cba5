package graft.operators

import java.time.LocalDateTime

/** ST13 — scheduled task jobs (reference pkg/backup/cronjob.go:100-192).
  *
  * The reference materializes each backup task's five-field cron
  * schedule into the system crontab, which curls the task's execute
  * endpoint on schedule. The engine schedules every task family that
  * way (backups, training exports, optimize, the watchdogs and the
  * store maintainers). Re-expressed engine-side: a tiny cron
  * evaluator plus an in-process scheduler that fires due jobs on each
  * minute tick — no OS crontab, same five-field semantics, and the
  * same at-most-once-per-minute firing contract (a crontab line runs
  * once per matching minute).
  */
object Cron {

  /** Parsed five-field expression: minute, hour, day-of-month, month,
    * day-of-week (0-6, Sunday=0; 7 accepted as Sunday). */
  final case class CronExpr(minute: Set[Int], hour: Set[Int], dom: Set[Int],
      month: Set[Int], dow: Set[Int], domStar: Boolean, dowStar: Boolean)

  private val bounds = Seq((0, 59), (0, 23), (1, 31), (1, 12), (0, 7))

  /** Parse `m h dom mon dow` supporting `*`, lists, ranges, and steps
    * (star-slash-5, `1-10/2`) — the grammar crontab accepts for the
    * entries cronjob.go generates. */
  def parse(expr: String): CronExpr = {
    val fields = expr.trim.split("\\s+")
    require(fields.length == 5, s"cron expression needs 5 fields: '$expr'")
    val sets = fields.zip(bounds).map { case (f, (lo, hi)) =>
      f.split(",").toSet[String].flatMap { part =>
        val (rangePart, step) = part.split("/") match {
          case Array(r) => (r, 1)
          case Array(r, s) => (r, s.toInt)
          case _ => throw new IllegalArgumentException(s"bad cron field '$part'")
        }
        val (start, end) = rangePart match {
          case "*" => (lo, hi)
          case r if r.contains("-") =>
            val Array(a, b) = r.split("-"); (a.toInt, b.toInt)
          case n => if (step == 1) (n.toInt, n.toInt) else (n.toInt, hi)
        }
        require(start >= lo && end <= hi && start <= end, s"cron field '$part' out of range")
        (start to end by step).toSet
      }
    }
    // crontab: day-of-week 7 is Sunday too
    val dow = sets(4).map(d => if (d == 7) 0 else d)
    CronExpr(sets(0), sets(1), sets(2), sets(3), dow,
      domStar = fields(2) == "*", dowStar = fields(4) == "*")
  }

  /** Standard crontab matching, including the dom/dow rule: when BOTH
    * are restricted the entry fires if EITHER matches. */
  def isDue(e: CronExpr, t: LocalDateTime): Boolean = {
    val dayMatch =
      if (e.domStar && e.dowStar) true
      else if (e.domStar) e.dow(t.getDayOfWeek.getValue % 7)
      else if (e.dowStar) e.dom(t.getDayOfMonth)
      else e.dom(t.getDayOfMonth) || e.dow(t.getDayOfWeek.getValue % 7)
    e.minute(t.getMinute) && e.hour(t.getHour) && e.month(t.getMonthValue) && dayMatch
  }

  /** A schedulable job: the engine-side stand-in for one scheduled task
    * row (a BackupTask in cronjob.go:107-125) — `run` executes the task
    * and owns its failure handling. */
  final case class Job(id: Int, schedule: String, run: () => Unit) {
    val expr: CronExpr = parse(schedule)
  }

  /** Minute-tick scheduler. `tick(now)` fires every job due at `now`
    * and returns the fired ids; a job fires at most once per matching
    * minute even if ticked repeatedly (crontab's firing contract).
    *
    * `previousFired` seeds the dedup state from a predecessor scheduler
    * ([[firedState]]): a config edit that rebuilds the schedule DURING
    * a job's fire minute must not double-run jobs that survived the
    * edit — the at-most-once contract spans rebuilds, keyed by job id. */
  final class Scheduler(jobs: Seq[Job],
      previousFired: Map[Int, LocalDateTime] = Map.empty) {
    private var lastFired = previousFired

    def tick(now: LocalDateTime): Seq[Int] = synchronized {
      val minute = now.withSecond(0).withNano(0)
      val due = jobs.filter { j =>
        isDue(j.expr, minute) && !lastFired.get(j.id).contains(minute)
      }
      due.foreach { j => j.run(); lastFired += j.id -> minute }
      due.map(_.id)
    }

    /** Current fired-this-minute dedup state, for carry-forward into a
      * rebuilt scheduler. */
    def firedState: Map[Int, LocalDateTime] = synchronized(lastFired)
  }
}
