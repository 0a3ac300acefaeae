package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded benchmark inputs. Every value is a pure function of a fixed
  * content seed and the row number, so the tables have the same content
  * for every run; the run's `--seed` only permutes the row order. The
  * corpus outputs can therefore be checked against one expected hash
  * per query on any seed, while the layout the program sees still
  * changes from seed to seed. */
object Data {
  val ContentSeed = 42L

  /** Row counts of the sf-shaped tables; lineitem has four rows per
    * order. At sf0.1 the testdata has 15,000 customers, 150,000 orders
    * and 5,000 documents. */
  final case class Scale(customers: Long, orders: Long, docs: Long) {
    def lineitems: Long = orders * 4
  }

  private def h(salt: String): Column =
    abs(xxhash64(col("id"), lit(ContentSeed), lit(salt)))

  private def pick(salt: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pmod(h(salt), lit(values.size.toLong)) + 1).cast("int"))

  private def day(salt: String): Column =
    timestamp_seconds(lit(694224000L) + pmod(h(salt), lit(2400L)) * 86400L)

  def customer(spark: SparkSession, s: Scale): DataFrame =
    spark.range(s.customers).select(
      (col("id") + 1).as("c_custkey"),
      format_string("Customer#%09d", col("id") + 1).as("c_name"),
      pmod(h("nation"), lit(25L)).cast("int").as("c_nationkey"),
      ((pmod(h("bal"), lit(1100000L)) - 100000L) / 100.0).as("c_acctbal"),
      pick("seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))

  def orders(spark: SparkSession, s: Scale): DataFrame =
    spark.range(s.orders).select(
      (col("id") + 1).as("o_orderkey"),
      (pmod(h("cust"), lit(s.customers)) + 1).as("o_custkey"),
      pick("status", Seq("F", "O", "P")).as("o_orderstatus"),
      ((pmod(h("price"), lit(50000000L)) + 90000L) / 100.0).as("o_totalprice"),
      day("odate").as("o_orderdate"),
      pick("prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  def lineitem(spark: SparkSession, s: Scale): DataFrame =
    spark.range(s.lineitems).select(
      (col("id").divide(4).cast("long") + 1).as("l_orderkey"),
      (pmod(h("part"), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h("supp"), lit(1000L)) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h("qty"), lit(50L)) + 1).cast("double").as("l_quantity"),
      ((pmod(h("xp"), lit(10000000L)) + 90000L) / 100.0).as("l_extendedprice"),
      (pmod(h("disc"), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h("tax"), lit(9L)) / 100.0).as("l_tax"),
      pick("rf", Seq("A", "N", "R")).as("l_returnflag"),
      pick("ls", Seq("F", "O")).as("l_linestatus"),
      day("ship").as("l_shipdate"))

  /** Bag-of-words documents in the shape of the testdata corpus: 8 to 95
    * words from a 40-word vocabulary, five languages, twenty sources.
    * One document in 25 is a near-copy of an earlier one (two words
    * changed) and one in 200 an exact copy, so the dedup queries have
    * clusters to find. */
  def documents(spark: SparkSession, s: Scale): DataFrame = {
    val vocab = Seq("a", "the", "spark", "scan", "sort", "hash", "join", "agg",
      "filter", "group", "window", "stream", "batch", "merge", "query", "table",
      "row", "column", "key", "value", "data", "part", "line", "order",
      "customer", "vector", "fast", "slow", "big", "small", "index", "plan",
      "shuffle", "cache", "node", "task", "stage", "job", "file", "page")
    val words = array(vocab.map(lit): _*)
    def word(i: Column, salt: Column): Column =
      element_at(words, (pmod(abs(xxhash64(salt, i, lit(ContentSeed))),
        lit(vocab.size.toLong)) + 1).cast("int"))
    // the text is a function of a "base" id; near-copies reuse an
    // earlier base and replace two positions
    val base = spark.range(s.docs).select(
      col("id"),
      when(pmod(h("dup"), lit(200L)) === 0 && col("id") > 0, pmod(h("src"), col("id")))
        .when(pmod(h("near"), lit(25L)) === 0 && col("id") > 0, pmod(h("src"), col("id")))
        .otherwise(col("id")).as("base"),
      (pmod(h("near"), lit(25L)) === 0 && col("id") > 0 &&
        pmod(h("dup"), lit(200L)) =!= 0).as("near"))
    // an exact or near copy takes its base's length
    val lenOf = (pmod(abs(xxhash64(col("base"), lit(ContentSeed), lit("len"))), lit(88L)) + 8)
    val withText = base.select(
      col("id"), col("near"), lenOf.as("n"), col("base"))
      .select(col("id"), col("base"), col("near"), col("n"),
        transform(sequence(lit(0L), col("n") - 1), i =>
          when(col("near") && (i === pmod(col("id"), col("n")) ||
            i === pmod(col("id") * 7 + 3, col("n"))), word(i, col("id") + 1000000000L))
            .otherwise(word(i, col("base")))).as("toks"))
    withText.select(
      col("id").as("doc_id"),
      array_join(col("toks"), " ").as("text"),
      pick("lang", Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
      concat(lit("src"), pmod(h("source"), lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Writes `df` as a single-file parquet table in the seed's row order
    * (the testdata layout: one file per table). */
  def writeShuffled(df: DataFrame, key: String, seed: Long, path: String): Unit =
    df.orderBy(xxhash64(col(key), lit(seed)), col(key)).coalesce(1)
      .write.mode("overwrite").parquet(path)

  // ---- migrate_wire: DataGenerator-shaped org records ----------------------

  val accountSchema: StructType = StructType(Seq(
    StructField("Id", StringType), StructField("Name", StringType),
    StructField("AnnualRevenue", LongType), StructField("NumberOfEmployees", LongType),
    StructField("Description", StringType), StructField("CreatedDate", TimestampType),
    StructField("New_Id__c", StringType)))

  val contactSchema: StructType = StructType(Seq(
    StructField("Id", StringType), StructField("LastName", StringType),
    StructField("Email", StringType), StructField("Amount", LongType),
    StructField("Birthdate", TimestampType), StructField("AccountId", StringType),
    StructField("New_Id__c", StringType)))

  val accountDstSchema: StructType = StructType(Seq(
    StructField("Id", StringType), StructField("Old_Id__c", StringType),
    StructField("Name", StringType), StructField("Revenue__c", LongType),
    StructField("Employees__c", LongType), StructField("Description__c", StringType),
    StructField("Opened__c", TimestampType)))

  val contactDstSchema: StructType = StructType(Seq(
    StructField("Id", StringType), StructField("Old_Id__c", StringType),
    StructField("LastName", StringType), StructField("Email__c", StringType),
    StructField("Amount__c", LongType), StructField("Birthdate__c", TimestampType),
    StructField("AccountId__c", StringType)))

  /** Source-org records from [[graft.gen.DataGenerator]] with the run's
    * seed: accounts, then contacts whose `AccountId` points at a
    * seed-chosen account. Ids are assigned here, as an org would. */
  def orgRecords(spark: SparkSession, accounts: Int, contacts: Int,
      seed: Long): (Vector[Row], Vector[Row]) = {
    import graft.gen.DataGenerator
    val acc = DataGenerator.generate(spark,
      Seq("Name" -> "text", "AnnualRevenue" -> "int", "NumberOfEmployees" -> "int",
        "Description" -> "text", "CreatedDate" -> "date"),
      Map.empty, Map("Name" -> "ACME-"), accounts, "Account", seed)
      .orderBy(col("Name")).collect()
    val con = DataGenerator.generate(spark,
      Seq("LastName" -> "text", "Email" -> "text", "Amount" -> "int",
        "Birthdate" -> "date", "Parent" -> "int"),
      Map.empty, Map("Email" -> "mail-"), contacts, "Contact", seed)
      .orderBy(col("LastName")).collect()
    val accRows = acc.zipWithIndex.map { case (r, i) =>
      Row(f"001A$i%011d", r.getString(0), r.getInt(1).toLong, r.getInt(2).toLong,
        r.getString(3), r.getTimestamp(4), null)
    }.toVector
    val conRows = con.zipWithIndex.map { case (r, i) =>
      val parent = accRows(r.getInt(4) % accRows.size).getString(0)
      Row(f"003C$i%011d", r.getString(0), r.getString(1), r.getInt(2).toLong,
        r.getTimestamp(3), parent, null)
    }.toVector
    (accRows, conRows)
  }
}
