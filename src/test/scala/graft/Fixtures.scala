package graft

import java.nio.file.{Files, Path}

/** Test inputs per FIXTURES.md — our own synthetic values (same shapes the
  * reference exercises: duplicates, messy formatting, dirty rows; not copies
  * of the reference's sample data).
  */
object Fixtures {

  val claimsHeader =
    "claim_id,policy_id,customer_id,claim_amount,claim_date,claim_type,claim_status,description,adjuster_id,settlement_amount,settlement_date,created_at,updated_at"

  /** 6 clean rows + 1 duplicate claim_id (CLM100 twice, later updated_at
    * wins) + messy formatting on one row.
    */
  val claimsRows: Seq[String] = Seq(
    "CLM100,POL200,CUST300,1200.00,2024-01-10,AUTO,OPEN,fender bender,ADJ400,,,2024-01-10 09:00:00,2024-01-10 09:00:00",
    "CLM100,POL200,CUST300,1250.00,2024-01-10,AUTO,OPEN,fender bender amended,ADJ400,,,2024-01-10 09:00:00,2024-01-11 10:00:00",
    "CLM101,POL201,CUST301,5000.00,2024-02-01,HOME,CLOSED,water damage,ADJ401,4500.00,2024-03-01,2024-02-01 08:00:00,2024-03-01 12:00:00",
    "CLM102,POL202,CUST302,750.50,2024-02-15,HEALTH,PENDING,clinic visit,ADJ402,,,2024-02-15 11:00:00,2024-02-15 11:00:00",
    "CLM103,POL200,CUST300,2200.00,2024-03-05,AUTO,CLOSED,windshield,ADJ400,2000.00,2024-04-02,2024-03-05 10:00:00,2024-04-02 09:30:00",
    "CLM104,POL203,CUST303,98000.00,2024-03-20,BUSINESS,OPEN,warehouse fire,ADJ403,,,2024-03-20 07:45:00,2024-03-20 07:45:00",
    "CLM105,POL204,CUST304,310.25,2024-04-01,AUTO,REJECTED,pre-existing scratch,ADJ404,,,2024-04-01 14:00:00,2024-04-01 14:00:00")

  val policiesHeader =
    "policy_id,customer_id,policy_number,policy_type,premium_amount,deductible_amount,coverage_limit,start_date,end_date,policy_status,agent_id,created_at,updated_at"

  val policiesRows: Seq[String] = Seq(
    "POL200,CUST300,NBX-AUTO-200,AUTO,1400.00,500.00,60000.00,2023-06-01,2025-06-01,ACTIVE,AGT500,2023-06-01 09:00:00,2023-06-01 09:00:00",
    "POL201,CUST301,NBX-HOME-201,HOME,2100.00,1000.00,450000.00,2023-01-15,2026-01-15,ACTIVE,AGT501,2023-01-15 09:00:00,2023-01-15 09:00:00",
    "POL202,CUST302,NBX-HLTH-202,HEALTH,3600.00,0.00,250000.00,2024-01-01,2024-12-31,ACTIVE,AGT502,2024-01-01 09:00:00,2024-01-01 09:00:00",
    "POL203,CUST303,NBX-BUS-203,BUSINESS,9500.00,5000.00,2000000.00,2023-09-01,2025-09-01,ACTIVE,AGT503,2023-09-01 09:00:00,2023-09-01 09:00:00",
    "POL204,CUST304,NBX-AUTO-204,AUTO,980.00,250.00,30000.00,2024-02-01,2025-02-01,SUSPENDED,AGT504,2024-02-01 09:00:00,2024-02-01 09:00:00")

  /** Messy-formatting rows (FIXTURES.md §5): padding, lowercase, thousands
    * separators, mixed date formats.
    */
  val messyPoliciesRows: Seq[String] = Seq(
    "\"  POL900  \",CUST900,NBX-AUTO-900,auto,\"1,500.50\",250.00,\"45,000.00\",01/15/2024,2025/01/15,active,agt900,2024-01-15 09:00:00,2024-01-15 09:00:00",
    "pol901,CUST901,NBX-HOME-901,Home,2000.00,500.00,300000.00,2024-02-01,02/01/2026,ACTIVE,AGT901,2024-02-01 09:00:00,2024-02-01 09:00:00")

  /** Dirty rows (FIXTURES.md §4): nulls, bad enums, negative amounts,
    * end<start, bad id format, unparseable date.
    */
  val dirtyPoliciesRows: Seq[String] = Seq(
    ",CUST950,NBX-X-950,AUTO,1000.00,100.00,20000.00,2024-01-01,2025-01-01,ACTIVE,AGT950,2024-01-01 09:00:00,2024-01-01 09:00:00",
    "POL951,CUST951,NBX-X-951,UNKNOWN,1000.00,100.00,20000.00,2024-01-01,2025-01-01,ACTIVE,AGT951,2024-01-01 09:00:00,2024-01-01 09:00:00",
    "POL952,CUST952,NBX-X-952,AUTO,-50.00,100.00,20000.00,2024-01-01,2025-01-01,ACTIVE,AGT952,2024-01-01 09:00:00,2024-01-01 09:00:00",
    "POL953,CUST953,NBX-X-953,AUTO,1000.00,100.00,20000.00,2024-06-01,2024-01-01,ACTIVE,AGT953,2024-06-01 09:00:00,2024-06-01 09:00:00",
    "BAD954,CUST954,NBX-X-954,AUTO,1000.00,100.00,20000.00,2024-01-01,2025-01-01,ACTIVE,AGT954,2024-01-01 09:00:00,2024-01-01 09:00:00",
    "POL955,CUST955,NBX-X-955,AUTO,1000.00,100.00,20000.00,invalid-date,2025-01-01,ACTIVE,AGT955,2024-01-01 09:00:00,2024-01-01 09:00:00")

  def writeCsv(dir: Path, name: String, header: String, rows: Seq[String]): String = {
    val f = dir.resolve(name)
    Files.writeString(f, (header +: rows).mkString("\n"))
    f.toString
  }

  /** One root per test JVM for every scratch directory the suites create,
    * made on first use and deleted, with everything under it, when the JVM
    * exits — test runs leave nothing behind in java.io.tmpdir.
    */
  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft_test")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(root.toFile)
    }, "graft-test-tmp-sweep"))
    root
  }

  private val tempSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A fresh directory `<prefix><n>` under the per-JVM root. A counter, not
    * a random suffix, keeps paths short in plan strings, which cut file
    * locations at 100 characters; specs that ask which paths a plan reads
    * use [[PlanScans]] instead.
    */
  def tempDir(prefix: String): Path =
    Files.createDirectory(tempRoot.resolve(s"$prefix${tempSeq.incrementAndGet()}"))
}
