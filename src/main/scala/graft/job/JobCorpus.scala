package graft.job

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import scala.concurrent.duration._

/** The literal Join Order Benchmark corpus — the reference's own workload
  * (113 `COUNT(*)` queries over the 21-table IMDb schema,
  * reference queries dir, the `.sq.cnt` files; schema
  * `/root/reference/dataset/schematext.sql:2-170`) executed end-to-end
  * against a DETERMINISTIC synthetic IMDb and differentially checked: the
  * driver re-runs the identical SQL text in DuckDB over the same parquet
  * files and compares all 113 counts.
  *
  * The synthetic data is hash-generated (xxhash64 of the row id — no RNG
  * state, identical on every build) with value pools seeded from the
  * workload's own predicate literals, so equality/LIKE/IN/range
  * predicates select real fractions and most queries count nonzero rows;
  * join keys are uniform over the referenced table's id space. Scale is
  * deliberately small (~400 k rows total): the corpus exists to verify
  * QUERY SEMANTICS (join graphs up to 17 instances, disjunctive
  * residuals, IS NULL arms, string ranges) across 113 real shapes, while
  * the sf-scaled TPC-H-ish entries carry the throughput benchmarking.
  */
object JobCorpus {

  /** Fixed location — the oracle SQL must reference the same files the
    * entry wrote, and the driver's DuckDB runs from an unknown cwd.
    */
  val dataPath = "/tmp/graft_imdb_v1"

  /** Location of a scaled variant (scale 1 IS the oracle-checked base). */
  def dataPathFor(m: Int): String =
    if (m <= 1) dataPath else s"${dataPath}_x$m"

  /** Scale multiplier derived from the sf dir, so JOB corpus timings
    * track the bench's data scale (throughput-meaningful) while the
    * correctness gate keeps the base dataset: the driver verifies at
    * sf0.01 → multiplier 1 → the entry reads exactly the files the
    * static DuckDB twin reads. sf0.1 → 10. Capped at 20 (the corpus
    * verifies semantics; a runaway sf must not build a 100x IMDb).
    */
  private[graft] def scaleFor(sfDir: String): Int = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)
      .getOrElse(0.01)
    math.min(20, math.max(1, math.round(sf / 0.01).toInt))
  }

  // ---------------------------------------------------------------------
  // Deterministic generator plumbing
  // ---------------------------------------------------------------------

  /** Deterministic pool pick: xxhash64(salt, id) pmod |pool|. */
  private def pick(pool: Seq[String], salt: String): Column =
    element_at(typedlit(pool),
      pmod(xxhash64(lit(salt), col("id")), lit(pool.size)).cast("int") + 1)

  /** `c` with ~1/k of rows nulled (deterministically). */
  private def nullable(c: Column, salt: String, k: Int): Column =
    when(pmod(xxhash64(lit(salt + "_null"), col("id")), lit(k)) === 0,
      lit(null).cast("string")).otherwise(c)

  private def nullableInt(c: Column, salt: String, k: Int): Column =
    when(pmod(xxhash64(lit(salt + "_null"), col("id")), lit(k)) === 0,
      lit(null).cast("int")).otherwise(c)

  /** Uniform int in [1, n] keyed by (salt, id) — foreign keys. */
  private def fk(n: Int, salt: String): Column =
    (pmod(xxhash64(lit(salt), col("id")), lit(n)) + 1).cast("int")

  /** Uniform int in [lo, hi]. */
  private def intIn(lo: Int, hi: Int, salt: String): Column =
    (pmod(xxhash64(lit(salt), col("id")), lit(hi - lo + 1)) + lo).cast("int")

  /** Production year, recent-skewed (max of two uniform draws over
    * 1935..2014): the workload's year predicates cluster on 2000-2014,
    * and a flat 90-year spread starved them.
    */
  private def productionYear(salt: String): Column =
    greatest(intIn(1935, 2014, salt + "_y1"), intIn(1935, 2014, salt + "_y2"))

  private def base(spark: SparkSession, n: Int): DataFrame =
    spark.range(1, n + 1).select(col("id").cast("int").as("id"))

  // ---------------------------------------------------------------------
  // Value pools — seeded from the workload's own predicate literals (the
  // harvested constants of the 113 queries) plus neutral filler so
  // predicates select strict subsets.
  // ---------------------------------------------------------------------

  // Dimension enumerations: ids are 1-based positions in these lists.
  private val companyTypes = Seq(
    "production companies", "distributors",
    "special effects companies", "miscellaneous companies")
  private val kindTypes = Seq(
    "movie", "tv movie", "tv series", "video movie", "video game",
    "episode", "tv mini series")
  private val linkTypes = Seq(
    "follows", "followed by", "sequel", "remake of", "remade as",
    "references", "referenced in", "features", "featured in",
    "spin off from", "spin off", "version of", "similar to",
    "edited into", "edited from", "alternate language version of",
    "unknown link", "spoofs")
  private val roleTypes = Seq(
    "actor", "actress", "producer", "writer", "cinematographer",
    "composer", "costume designer", "director", "editor",
    "miscellaneous crew", "production designer", "guest")
  private val compCastTypes = Seq("cast", "crew", "complete", "complete+verified")
  private val infoTypes: Seq[String] = Seq(
    // Workload-referenced types first (stable small ids).
    "top 250 rank", "bottom 10 rank", "rating", "votes", "budget",
    "genres", "countries", "languages", "release dates", "trivia",
    "mini biography", "height", "birth notes", "where now", "book",
    "biographical movie", "portrayed in", "interviews", "quotes"
  ) ++ (20 to 113).map(i => s"info type $i")

  private val genrePool = Seq(
    "Drama", "Horror", "Action", "Sci-Fi", "Thriller", "Crime",
    "Western", "War", "Family", "Comedy", "Romance", "Documentary",
    "Adventure", "Animation", "Musical", "Mystery")
  private val countryLangPool = Seq(
    "USA", "America", "American", "Sweden", "Swedish", "Norway",
    "Norwegian", "Denmark", "Danish", "Denish", "Germany", "German",
    "Bulgaria", "English", "France", "Japan", "Italy", "Spain",
    "Finland", "Iceland", "Polish", "Dutch")
  private val releasePool = Seq(
    "USA: May 2005", "USA: October 2008", "USA: 12 June 1999",
    "USA: March 1994", "USA: 4 July 2013", "USA: December 2001",
    "Japan: 2007", "Japan: August 2004", "Japan: 3 May 2011",
    "Germany: 1998", "France: 2009", "Sweden: 1987",
    "UK: February 2006", "Canada: 2012", "Australia: 1995")
  private val miscInfoPool = Seq(
    "Some production trivia", "Shot on location", "Budget note",
    "8000", "12000", "250", "1.85 : 1", "Dolby Digital")

  // Half-point grid 1.0..9.5: covers every rating literal the workload
  // compares against while keeping exact-match predicates (info = '5.0')
  // at a ~1/18 hit rate — a 0..9.9 grid made them vanishingly rare.
  private val ratingPool: Seq[String] =
    (2 to 19).map(i => s"${i / 2}.${if (i % 2 == 0) "0" else "5"}")

  private val mcNotePool = Seq(
    "(co-production)", "(presents)", "(as Metro-Goldwyn-Mayer Pictures)",
    "(2006) (USA) (TV)", "(2007) (worldwide)", "(1994) (VHS)",
    "(2008) (Blu-ray)", "(France) (theatrical)", "(Japan) (theatrical)",
    "(USA) (theatrical)", "(2012) (USA) (all media)", "(uncredited)",
    "(in association with)", "(produced by)")
  private val ciNotePool = Seq(
    "(voice)", "(voice: English version)", "(producer)", "(uncredited)",
    "(voice) (uncredited)", "(archive footage)", "(credit only)",
    "(as himself)")
  private val titlePool = Seq(
    "Shrek 2", "Kung Fu Panda 2", "The Champion Returns",
    "Freddy vs Jason", "Saw IV", "One Piece: Grand Battle",
    "Dragon Ball Z: The Fight", "Birdemic: Shock and Terror",
    "Vampire Diaries", "The Money Movie", "Murder at Midnight",
    "A Loser Story", "Mord in Berlin", "The murder house",
    "Champion of the Ring", "Night of the Hunter", "Quiet Days",
    "Spring Harvest", "Autumn Letters", "The Long Road",
    "City of Glass", "Silent Rivers", "Golden Years", "Harbor Lights")
  private val namePool = Seq(
    "Downey Robert Jr.", "Robert Downey", "Angela Bertram",
    "Tim Angelson", "Yo Yuki", "Yoko Tanaka", "Bert Amundsen",
    "Zorro Xan", "Xavier Zimmer", "Anna B. Yu", "Angel Martinez",
    "Bertil Ohlin", "Antonio Yudo", "Yusuf Timson", "Zack Bertoni",
    "Ximena Ybarra", "Carl Svensson", "Maria Lindqvist",
    "John Carpenter", "Erik Nilsen", "Hanna Petrov")
  private val charNamePool = Seq(
    "Queen", "Tony Stark", "Iron Man", "Sherlock Holmes",
    "Spider-Man", "Batman", "Superman", "The Gunman", "Wise Man",
    "Queen Mother", "Iron Manager", "Old man at the station",
    "Angry Man", "Doctor", "Nurse", "Police Officer", "The Stranger",
    "Shop Keeper", "Taxi Driver", "Teacher")
  private val companyNamePool = Seq(
    "Warner Bros. Pictures", "20th Century Fox Film Corp.",
    "Twentieth Century Fox Home Entertainment", "Lionsgate Films",
    "DreamWorks Animation", "YouTube", "Marvel Film Works",
    "Nordisk Film", "Svensk Filmindustri", "Studio Ghibli",
    "Gaumont", "Pathe Films", "Mosfilm", "Cinecitta Studios",
    "Babelsberg Film", "Toho Company", "Shaw Brothers",
    "Ealing Studios", "RKO Radio Pictures", "United Artists")
  private val akaNamePool = Seq(
    "Anna Smith", "A. Smith", "Bobby Dee", "Angie B.", "Roberta D.",
    "Jan van Aken", "Sasha Ivanova", "Mario Andretti", "Lena Maria",
    "Karl Johan")
  private val pcodePool = Seq("D123", "A536", "B624", "R163", "X525", "Z600")
  private val piNotePool = Seq(
    "Volker Boehm", "Interview note", "Biography source",
    "Archive reference", "Editor note")

  // ---------------------------------------------------------------------
  // Table generators — schema per reference schematext.sql.
  // ---------------------------------------------------------------------

  // Dimension cardinalities deliberately SMALL relative to the fact
  // sizes below (mi ~6 rows/movie, ci ~7.5, mk/mc ~3.75): JOB's
  // conjunctive multi-fact queries only count nonzero when the same
  // movie hits several per-fact predicates at once, and that joint
  // probability scales with per-movie fact density. These are BASE
  // (scale-1) sizes; `generators(spark, m)` multiplies entity and fact
  // tables together so per-movie fact density — and with it every
  // predicate's hit FRACTION — stays constant across scales, making
  // scaled counts grow ~linearly rather than combinatorially.
  private val baseTitle = 8000
  private val baseName = 10000
  private val baseCharName = 5000
  private val baseCompanyName = 2000
  private val baseKeyword = 2000

  private def dimension(spark: SparkSession, values: Seq[String],
      col2: String): DataFrame = {
    import spark.implicits._
    values.zipWithIndex.map { case (v, i) => (i + 1, v) }.toDF("id", col2)
  }

  /** Harvested workload keywords get the SMALL ids (movie_keyword's fk
    * range covers them densely); filler pads the dictionary.
    */
  private def keywordValues(nKeyword: Int): Seq[String] = Seq(
    "sequel", "superhero", "marvel-comics", "based-on-comic",
    "based-on-novel", "fight", "violence", "blood", "gore", "murder",
    "murder-in-title", "character-name-in-title", "revenge", "death",
    "female-nudity", "hospital", "alienation", "dignity", "loner",
    "computer-animation", "computer-animated-movie", "hand-to-hand-combat",
    "martial-arts", "laser", "magnet", "claw", "web", "nerd", "hero",
    "tv-special", "second-part", "10,000-mile-club",
    "marvel-cinematic-universe", "the-sequel-of-dreams"
  ) ++ (35 to nKeyword).map(i => s"kw-$i")

  def generators(spark: SparkSession, m: Int = 1): Seq[(String, DataFrame)] = {
    val nTitle = baseTitle * m
    val nName = baseName * m
    val nCharName = baseCharName * m
    val nCompanyName = baseCompanyName * m
    val nKeyword = baseKeyword * m
    Seq(
    "company_type" -> dimension(spark, companyTypes, "kind"),
    "kind_type" -> dimension(spark, kindTypes, "kind"),
    "link_type" -> dimension(spark, linkTypes, "link"),
    "role_type" -> dimension(spark, roleTypes, "role_name"),
    "comp_cast_type" -> dimension(spark, compCastTypes, "kind"),
    "info_type" -> dimension(spark, infoTypes, "info"),
    "keyword" -> dimension(spark, keywordValues(nKeyword), "keyword")
      .withColumn("phonetic_code", nullable(pick(pcodePool, "kw_pc"), "kw_pc", 6)),

    "title" -> base(spark, nTitle).select(
      col("id"),
      pick(titlePool, "t_title").as("title"),
      nullable(pick(Seq("I", "II", "III"), "t_ii"), "t_ii", 4).as("imdb_index"),
      fk(kindTypes.size, "t_kind").as("kind_id"),
      nullableInt(productionYear("t_year"), "t_year", 10).as("production_year"),
      nullableInt(intIn(1, 9999999, "t_imdb"), "t_imdb", 3).as("imdb_id"),
      nullable(pick(pcodePool, "t_pc"), "t_pc", 5).as("phonetic_code"),
      nullableInt(fk(nTitle, "t_ep_of"), "t_ep_of", 4).as("episode_of_id"),
      nullableInt(intIn(1, 12, "t_season"), "t_season", 3).as("season_nr"),
      nullableInt(intIn(1, 120, "t_ep"), "t_ep", 3).as("episode_nr"),
      nullable(pick(Seq("1998-2004", "2005-2010", "2011-????"), "t_sy"), "t_sy", 4)
        .as("series_years"),
      md5(concat(lit("t"), col("id"))).as("md5sum")),

    "movie_companies" -> base(spark, 30000 * m).select(
      col("id"),
      fk(nTitle, "mc_movie").as("movie_id"),
      fk(nCompanyName, "mc_company").as("company_id"),
      fk(companyTypes.size, "mc_ctype").as("company_type_id"),
      nullable(pick(mcNotePool, "mc_note"), "mc_note", 4).as("note")),

    "movie_info" -> base(spark, 50000 * m).select(
      col("id"),
      fk(nTitle, "mi_movie").as("movie_id"),
      // Half the rows carry the four workload-core types (every real
      // IMDb movie has genres/countries/languages/release dates; a flat
      // 1/113 spread left 95% of movies without a countries row and
      // starved every IN-list country/genre predicate).
      when(pmod(xxhash64(lit("mi_core"), col("id")), lit(2)) === 0,
        element_at(typedlit(Seq(
          infoTypes.indexOf("genres") + 1,
          infoTypes.indexOf("countries") + 1,
          infoTypes.indexOf("languages") + 1,
          infoTypes.indexOf("release dates") + 1)),
          pmod(xxhash64(lit("mi_core_t"), col("id")), lit(4)).cast("int") + 1))
        .otherwise(fk(infoTypes.size, "mi_type")).as("info_type_id"))
      .withColumn("info",
        // Type-correlated values: genres/countries/languages/release
        // dates draw from their own pools (the workload's IN-lists and
        // release-date LIKEs must land on rows of the RIGHT info type);
        // other types carry mixed filler.
        when(col("info_type_id") === (infoTypes.indexOf("genres") + 1),
          pick(genrePool, "mi_genre"))
          .when(col("info_type_id") === (infoTypes.indexOf("countries") + 1),
            pick(countryLangPool, "mi_country"))
          .when(col("info_type_id") === (infoTypes.indexOf("languages") + 1),
            pick(countryLangPool, "mi_lang"))
          .when(col("info_type_id") === (infoTypes.indexOf("release dates") + 1),
            pick(releasePool, "mi_rel"))
          .otherwise(pick(miscInfoPool, "mi_misc")))
      .withColumn("note",
        nullable(pick(Seq("(internet release)", "found on internet",
          "(theatrical)", "(TV premiere)", "archive note"), "mi_note"), "mi_note", 3)),

    "movie_info_idx" -> base(spark, 25000 * m).select(
      col("id"),
      fk(nTitle, "mix_movie").as("movie_id"),
      // Rank/rating/vote types only — mirrors real IMDb where the _idx
      // table holds the orderable stats the workload ranges over.
      element_at(typedlit(Seq(
        infoTypes.indexOf("top 250 rank") + 1,
        infoTypes.indexOf("bottom 10 rank") + 1,
        infoTypes.indexOf("rating") + 1,
        infoTypes.indexOf("votes") + 1)),
        pmod(xxhash64(lit("mix_type"), col("id")), lit(4)).cast("int") + 1)
        .as("info_type_id"),
      pick(ratingPool, "mix_info").as("info"),
      nullable(pick(Seq("note A", "note B"), "mix_note"), "mix_note", 3).as("note")),

    "movie_keyword" -> base(spark, 30000 * m).select(
      col("id"),
      fk(nTitle, "mk_movie").as("movie_id"),
      // Dense over the small (workload-referenced) keyword ids.
      fk(400, "mk_kw").as("keyword_id")),

    "cast_info" -> base(spark, 60000 * m).select(
      col("id"),
      fk(nName, "ci_person").as("person_id"),
      fk(nTitle, "ci_movie").as("movie_id"),
      nullableInt(fk(nCharName, "ci_role"), "ci_role", 3).as("person_role_id"),
      nullable(pick(ciNotePool, "ci_note"), "ci_note", 3).as("note"),
      nullableInt(intIn(1, 40, "ci_order"), "ci_order", 3).as("nr_order"),
      // Cast rows concentrate on the first six roles (actor/actress/
      // producer/writer/cinematographer/composer) — the workload's role
      // predicates all land there, and 1/12 uniform diluted them.
      fk(6, "ci_rt").as("role_id")),

    "name" -> base(spark, nName).select(
      col("id"),
      pick(namePool, "n_name").as("name"),
      nullable(pick(Seq("I", "II"), "n_ii"), "n_ii", 5).as("imdb_index"),
      nullableInt(intIn(1, 9999999, "n_imdb"), "n_imdb", 3).as("imdb_id"),
      nullable(pick(Seq("m", "f"), "n_gender"), "n_gender", 8).as("gender"),
      nullable(pick(pcodePool, "n_pcf"), "n_pcf", 4).as("name_pcode_cf"),
      nullable(pick(pcodePool, "n_pnf"), "n_pnf", 4).as("name_pcode_nf"),
      nullable(pick(pcodePool, "n_sp"), "n_sp", 4).as("surname_pcode"),
      md5(concat(lit("n"), col("id"))).as("md5sum")),

    "char_name" -> base(spark, nCharName).select(
      col("id"),
      pick(charNamePool, "cn_name").as("name"),
      nullable(pick(Seq("I", "II"), "cn_ii"), "cn_ii", 5).as("imdb_index"),
      nullableInt(intIn(1, 9999999, "cn_imdb"), "cn_imdb", 3).as("imdb_id"),
      nullable(pick(pcodePool, "cn_pnf"), "cn_pnf", 4).as("name_pcode_nf"),
      nullable(pick(pcodePool, "cn_sp"), "cn_sp", 4).as("surname_pcode"),
      md5(concat(lit("c"), col("id"))).as("md5sum")),

    "company_name" -> base(spark, nCompanyName).select(
      col("id"),
      pick(companyNamePool, "co_name").as("name"),
      nullable(pick(Seq("[us]", "[de]", "[jp]", "[nl]", "[ru]", "[sm]",
        "[pl]", "[gb]", "[fr]", "[se]"), "co_cc"), "co_cc", 8).as("country_code"),
      nullableInt(intIn(1, 9999999, "co_imdb"), "co_imdb", 3).as("imdb_id"),
      nullable(pick(pcodePool, "co_pnf"), "co_pnf", 4).as("name_pcode_nf"),
      nullable(pick(pcodePool, "co_psf"), "co_psf", 4).as("name_pcode_sf"),
      md5(concat(lit("co"), col("id"))).as("md5sum")),

    "aka_name" -> base(spark, 12000 * m).select(
      col("id"),
      fk(nName, "an_person").as("person_id"),
      pick(akaNamePool, "an_name").as("name"),
      nullable(pick(Seq("I"), "an_ii"), "an_ii", 6).as("imdb_index"),
      nullable(pick(pcodePool, "an_pcf"), "an_pcf", 4).as("name_pcode_cf"),
      nullable(pick(pcodePool, "an_pnf"), "an_pnf", 4).as("name_pcode_nf"),
      nullable(pick(pcodePool, "an_sp"), "an_sp", 4).as("surname_pcode"),
      md5(concat(lit("a"), col("id"))).as("md5sum")),

    "aka_title" -> base(spark, 8000 * m).select(
      col("id"),
      fk(nTitle, "at_movie").as("movie_id"),
      pick(titlePool, "at_title").as("title"),
      nullable(pick(Seq("I"), "at_ii"), "at_ii", 6).as("imdb_index"),
      fk(kindTypes.size, "at_kind").as("kind_id"),
      nullableInt(productionYear("at_year"), "at_year", 6).as("production_year"),
      nullable(pick(pcodePool, "at_pc"), "at_pc", 5).as("phonetic_code"),
      nullableInt(fk(nTitle, "at_ep_of"), "at_ep_of", 4).as("episode_of_id"),
      nullableInt(intIn(1, 12, "at_season"), "at_season", 3).as("season_nr"),
      nullableInt(intIn(1, 120, "at_ep"), "at_ep", 3).as("episode_nr"),
      nullable(pick(Seq("(worldwide title)", "(US title)"), "at_note"), "at_note", 3)
        .as("note"),
      md5(concat(lit("at"), col("id"))).as("md5sum")),

    "movie_link" -> base(spark, 4000 * m).select(
      col("id"),
      fk(nTitle, "ml_movie").as("movie_id"),
      fk(nTitle, "ml_linked").as("linked_movie_id"),
      fk(linkTypes.size, "ml_lt").as("link_type_id")),

    "complete_cast" -> base(spark, 6000 * m).select(
      col("id"),
      nullableInt(fk(nTitle, "cc_movie"), "cc_movie", 10).as("movie_id"),
      // subject ∈ {cast, crew}; status ∈ {complete, complete+verified} —
      // the id split the workload's cct1/cct2 predicates rely on.
      (pmod(xxhash64(lit("cc_subj"), col("id")), lit(2)) + 1).cast("int")
        .as("subject_id"),
      (pmod(xxhash64(lit("cc_status"), col("id")), lit(2)) + 3).cast("int")
        .as("status_id")),

    "person_info" -> base(spark, 20000 * m).select(
      col("id"),
      fk(nName, "pi_person").as("person_id"),
      element_at(typedlit(Seq(
        infoTypes.indexOf("mini biography") + 1,
        infoTypes.indexOf("height") + 1,
        infoTypes.indexOf("trivia") + 1,
        infoTypes.indexOf("quotes") + 1)),
        pmod(xxhash64(lit("pi_type"), col("id")), lit(4)).cast("int") + 1)
        .as("info_type_id"),
      pick(Seq("A short biography text", "182 cm", "Fun trivia item",
        "A quotable line", "Born in a small town"), "pi_info").as("info"),
      nullable(pick(piNotePool, "pi_note"), "pi_note", 3).as("note")))
  }

  val tableNames: Seq[String] = Seq(
    "aka_name", "aka_title", "cast_info", "char_name", "comp_cast_type",
    "company_name", "company_type", "complete_cast", "info_type", "keyword",
    "kind_type", "link_type", "movie_companies", "movie_info",
    "movie_info_idx", "movie_keyword", "movie_link", "name", "person_info",
    "role_type", "title")

  /** Write the synthetic IMDb once (idempotent: `_GRAFT_READY` marker).
    * One parquet file per table so the oracle can glob
    * `<table>.parquet` slash `*.parquet`.
    */
  def ensureData(spark: SparkSession, m: Int = 1): Unit = synchronized {
    val path = dataPathFor(m)
    val marker = new java.io.File(s"$path/_GRAFT_READY")
    if (marker.exists()) return
    generators(spark, m).foreach { case (name, df) =>
      // Scale 1 must stay a single file per table (the DuckDB twin globs
      // it); scaled builds write parallel — nothing globs them and a
      // 20x cast_info through one task is pointless serialization.
      val w = if (m <= 1) df.coalesce(1) else df
      w.write.mode("overwrite").parquet(s"$path/$name.parquet")
    }
    require(new java.io.File(path).isDirectory)
    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
  }

  // Which scale's views a session currently has registered — re-register
  // on scale change (entries at different scales interleave in one
  // Bench/Verify session; temp view names are shared).
  private val registered = new java.util.WeakHashMap[SparkSession, Integer]()

  def registerViews(spark: SparkSession, m: Int = 1): Unit = synchronized {
    if (Option(registered.get(spark)).exists(_.intValue == m)) return
    val path = dataPathFor(m)
    tableNames.foreach { t =>
      spark.read.parquet(s"$path/$t.parquet").createOrReplaceTempView(t)
    }
    registered.put(spark, Integer.valueOf(m))
  }

  // ---------------------------------------------------------------------
  // The workload
  // ---------------------------------------------------------------------

  private def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** (name, SQL text) for all 113 queries, name-sorted. */
  lazy val queries: Seq[(String, String)] = {
    val names = resource("/job/index.txt").linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq.sorted
    require(names.size == 113, s"expected 113 JOB queries, found ${names.size}")
    names.map(n => n -> resource(s"/job/$n.sql"))
  }

  /** The JOB child session of `spark` for one profile at scale `m`, built
    * once through the engine's session registry
    * (`graft.engine.LocalSession.child`): the scale-`m` IMDb is written if
    * missing and its 21 views registered at creation, so no timed lap pays
    * view registration, and a Bench that runs the corpus at x10 and
    * COMPASS at x1 keeps one child for each. `trim = false` is Spark's
    * untouched default conf (AQE re-planning on). `trim = true` is the JOB
    * trim profile, defined here once, for plans that are broadcast-join
    * trees over megabyte tables, where per-query DRIVER work dominates.
    * The vanilla corpus and the `q_job_compass` entry's CompassSession both
    * run on its x1 child. Each setting is measured:
    *  - AQE off: no re-planning of plans with no exchanges to adapt.
    *  - Whole-stage codegen off: no Janino for 113 distinct sub-second
    *    shapes; codegen on lost in r18 and again in r21 (59.1/51.3 s vs
    *    39.7/34.3 s cold/warm at x10).
    *  - Constraint propagation off: no closure over JOB's dozens of
    *    equality predicates.
    *  - `preferSortMergeJoin=true` (r21 verdict #1): with AQE off, `false`
    *    converts SMJ→SHJ statically with no runtime fallback; concurrent
    *    interpreted hash builds sent q_job_compass exec 29.6→91.6 s.
    * Together: 48 → ~25 s over the corpus at x10, 14.5 → 7.7 s cold on the
    * COMPASS path (r17), identical counts. At data scale the defaults win,
    * so the corpus gates the profile on volume ([[executionSession]]).
    * Neither profile is cacheTable'd: measured at x10, pinning all 21
    * tables in the columnar cache was ~7% SLOWER over the 113 queries
    * (29.9 s vs 27.8 s cold) — per-query driver planning dominates and the
    * InMemoryScan adds materialization without removing a bottleneck.
    */
  private[graft] def session(spark: SparkSession, trim: Boolean, m: Int): SparkSession =
    graft.engine.LocalSession.child(spark, ("job", trim, m)) { c =>
      if (trim) {
        c.conf.set("spark.sql.adaptive.enabled", "false")
        c.conf.set("spark.sql.codegen.wholeStage", "false")
        c.conf.set("spark.sql.constraintPropagation.enabled", "false")
        c.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      }
      ensureData(spark, m)
      registerViews(c, m)
    }

  /** Measured boundary of the interactive-trim profile (SCALE.md r18
    * facet 1): the trim (AQE/codegen/constraint propagation off) wins
    * while every plan stays in the broadcast regime — ×10/×20 measured
    * winning (48 s → ~25 s at ×10) — and LOSES past it: at ×100 four
    * data-dominated queries (`18c`, `25a`, `25b`, `25c`) complete ONLY
    * with AQE on, and trim cap-outs exceed default cap-outs in both the
    * cold and warm laps. Past this multiplier the chooser takes the
    * default profile; `ProfileChooserSpec` pins the flip.
    */
  private[graft] val InteractiveMaxScale = 20

  private[graft] def useInteractiveProfile(m: Int): Boolean =
    m <= InteractiveMaxScale

  /** The volume-gated execution session: the trim child inside the
    * measured regime, the default-conf child past it. [[runAll]] routes
    * through this; `scaleFor`'s ×20 cap means the bench entries always
    * land on the trim, while campaign harnesses calling at ×100 get the
    * only profile that completes there.
    */
  private[graft] def executionSession(spark: SparkSession, m: Int): SparkSession =
    session(spark, useInteractiveProfile(m), m)

  /** Submission concurrency for the corpus and compass-subset runs and
    * the scale campaign's capped laps. The 16-thread shape (fastest on a
    * quiescent machine) is also a contention AMPLIFIER — the r10-r12
    * driver windows recorded the 16-way entries at 5-9x their quiesced
    * numbers while ordinary entries drifted 1.08x, because 16 concurrent
    * jobs each fanning to 32 cores multiply whatever else the host is
    * doing into this entry's wall time — and r21 measured 6 threads
    * worse on the cold lap (per-query median 870 → 2625 ms). 4 threads
    * still overlap planning with execution (~3x over sequential).
    */
  private[graft] val SubmitThreads = 4

  /** Whole-lap timeout (minutes) for [[runAll]] and [[runCompassSubset]].
    * 15 covers every bench/verify shape; `GRAFT_CORPUS_TIMEOUT_MIN`
    * overrides it because the scale campaign's ×100 default-profile lap
    * legitimately runs longer (data-dominated shuffle joins).
    */
  private[graft] val CorpusTimeoutMin: Int =
    sys.env.get("GRAFT_CORPUS_TIMEOUT_MIN").flatMap(_.toIntOption).getOrElse(15)

  /** Run `body` over `items` on [[SubmitThreads]] workers and return the
    * results in input order. Each JOB query is a small independent job
    * whose cost is mostly driver-side planning, so concurrent submission
    * overlaps one query's planning with another's execution (Spark SQL is
    * thread-safe across jobs on one session). If the lap fails or misses
    * `timeout`, bodies that have not started are dropped and running ones
    * interrupted (`shutdownNow`): a plain `shutdown` would still run every
    * queued query, into whatever the caller times next.
    */
  private[graft] def submitAll[A, B](items: Seq[A],
      timeout: Duration)(body: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(SubmitThreads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(items)(a => Future(body(a))), timeout)
    catch { case t: Throwable => pool.shutdownNow(); throw t }
    finally pool.shutdown()
  }

  /** Run every query through the engine's SQL surface: one (q, n) row
    * each, plus each query's wall-clock ms. Execution is per-query (113
    * independent Spark jobs — a 113-branch union would be one
    * pathological Catalyst tree); the collected counts are genuine
    * executor results, assembled into a DataFrame only for the driver's
    * differential compare. Queries go in their natural (name-sorted)
    * order through [[submitAll]].
    */
  def runAll(spark: SparkSession, sfDir: String = ""): (DataFrame, Map[String, Long]) = {
    import spark.implicits._
    val m = scaleFor(sfDir)
    ensureData(spark, m)
    val exec = executionSession(spark, m)
    val runs = submitAll(queries, CorpusTimeoutMin.minutes) { case (name, text) =>
      val t0 = System.nanoTime()
      val n = exec.sql(text).head().getLong(0)
      (name, n, (System.nanoTime() - t0) / 1000000)
    }
    (runs.map(r => (r._1, r._2)).toDF("q", "n").orderBy("q"),
      runs.map(r => r._1 -> r._3).toMap)
  }

  /** Placeholder in the corpus oracle for the SCALE-matched data dir:
    * `runAll` reads the sf-scaled IMDb (x1 at sf0.01, x10 at sf0.1) but
    * oracle texts are static strings, so the corpus twin carries this
    * token and Verify substitutes `dataPathFor(scaleFor(sfDir))` at dump
    * time — the same mechanism as [[graft.Queries.VerifyOutToken]]. The
    * r13 sf0.1 audit caught the unsubstituted form comparing an x10
    * Spark run against x1 DuckDB reads (71/113 spurious mismatches;
    * the official sf0.01 gate was x1-vs-x1 and unaffected).
    */
  val JobDataToken = "{{JOB_DATA_DIR}}"

  /** The DuckDB twin: the SAME 113 query texts, each table reference
    * rewritten to read the entry's own parquet files, one scalar
    * subquery per query, UNION ALL'd into the (q, n) relation.
    */
  lazy val duckOracleSql: String =
    duckOracleSqlFor(queries.map(_._1), JobDataToken)

  /** The DuckDB twin for a named subset of the corpus. `dir` defaults to
    * the BASE-scale data because the compass subset always executes at
    * x1 (`runCompassSubset` calls `ensureData(spark)` unscaled).
    */
  def duckOracleSqlFor(names: Seq[String], dir: String = dataPath): String = {
    val byName = queries.toMap
    val branches = names.sorted.map { name =>
      s"SELECT '$name' AS q, (${rewriteFrom(byName(name), dir)}) AS n"
    }
    branches.mkString("SELECT q, n FROM (", " UNION ALL ", ") ORDER BY q")
  }

  /** Rewrite `FROM t1 AS a1, t2 AS a2, ...` to read_parquet file refs.
    * JOB's FROM clauses are plain comma lists with AS aliases.
    */
  private[graft] def rewriteFrom(text: String, dir: String = dataPath): String = {
    val m = java.util.regex.Pattern
      .compile("(?is)\\bFROM\\b(.*?)\\bWHERE\\b").matcher(text)
    require(m.find(), s"no FROM..WHERE in:\n$text")
    val items = m.group(1).split(",").map(_.trim).map { item =>
      val parts = item.split("\\s+")
      val table = parts.head
      require(tableNames.contains(table), s"unknown JOB table '$table'")
      val alias = if (parts.length >= 3 && parts(1).equalsIgnoreCase("AS")) parts(2)
        else if (parts.length == 2) parts(1)
        else table
      s"read_parquet('$dir/$table.parquet/*.parquet') AS $alias"
    }
    text.substring(0, m.start()) + "FROM " + items.mkString(", ") + " WHERE " +
      text.substring(m.end())
  }

  /** Representative subset routed through the COMPASS pre-pass (the full
    * engine path: join-graph extraction → per-instance sketches →
    * enumeration → splice): ONE query per JOB family, all 33 families.
    * One-per-family proves every join-graph shape in the literal workload
    * takes the optimized path and returns identical counts at a fraction
    * of the full corpus's sketch jobs; the specs and the estimator A/Bs
    * run it, while `q_job_compass` runs all 113 ([[runCompassFull]]).
    */
  val compassSubset: Seq[String] = Seq(
    "1a", "2d", "3b", "4a", "5c", "6a", "7a", "8a", "9a", "10a",
    "11a", "12a", "13a", "14a", "15d", "16a", "17e", "18a", "19a", "20a",
    "21a", "22a", "23a", "24a", "25a", "26a", "27a", "28a", "29a", "30a",
    "31a", "32a", "33a")

  /** Subset for the MEASURED-quality entry (q_job_quality): executing
    * two full left-deep spines per query caps how many fit the per-round
    * budget, so quality keeps the original 12 representative families
    * while the cheaper count-checked COMPASS path covers all 33.
    */
  val qualitySubset: Seq[String] = Seq(
    "1a", "2d", "3b", "5c", "6a", "8a", "10a", "11a", "13a", "15d",
    "17e", "20a")

  /** Per-query COMPASS telemetry: result count plus the planning split
    * the reference prints per query (sketch-build / enumeration /
    * execution ms — FilterPushDownSketch.cpp:1564-1569,
    * RelAlgExecutor.cpp:2628-2629). `execMs` is the wall time of the
    * spliced plan's execution; the planning numbers come from the
    * CompassPlan the optimizer published for exactly this query.
    */
  final case class CompassRun(name: String, count: Long,
      sketchMs: Long, enumerateMs: Long, execMs: Long)

  /** PRE_PROCESSING analogue for the JOB path: pre-build the unfiltered
    * sketch templates every subset query needs, so timed runs measure
    * steady-state planning (template hits), not first-touch builds.
    * Idempotent — a warm cache takes zero sketch jobs.
    */
  def warmCompassAt(spark: SparkSession,
      cs: graft.planner.CompassSession, m: Int,
      names: Seq[String] = Nil): Int = {
    // Template keys snapshot data location+mtime, so warming must happen
    // at the SAME scale the measurement will run (x1-keyed templates are
    // cold misses against x10 views — the A/B harness hit exactly that).
    ensureData(spark, m)
    // Views + workload plans live on the CompassSession's OWN session
    // (since r17 that may be a driver-work-trimmed child of `spark` —
    // see JobEntries.compassFor): optimize()/scope.sql() analyze and
    // splice there, so the warmed template keys must come from the same
    // resolution path.
    registerViews(cs.spark, m)
    val byName = queries.toMap
    // Default (empty list): the FULL corpus — since r17 the compass entry
    // runs all 113 queries, and a family's representative does not
    // necessarily touch every (table × join-column set) its sibling
    // variants do. Duplicate templates dedupe inside the cache, so
    // warming wide costs analysis only.
    val ws = if (names.isEmpty) queries.map(_._1) else names
    cs.warmTemplates(ws.map(n => cs.spark.sql(byName(n))))
  }

  /** The FULL reference experiment: all 113 JOB queries through the
    * COMPASS path — the reference's headline run is the whole corpus
    * with `\fpd` on (reference README.md:57, queries/README.md,
    * SQLFrontend/mapdql.cpp:1313-1317), not a per-family sample.
    * Variants within a family share unfiltered templates (cache) AND
    * identical filtered instances (the sketch store's filtered tier,
    * keyed on templateId+filter), so sketch-job volume grows far slower
    * than query count.
    */
  def runCompassFull(spark: SparkSession,
      cs: graft.planner.CompassSession, m: Int = 1): Seq[CompassRun] =
    runCompassSubset(spark, cs, queries.map(_._1), m)

  /** Run `names` through `cs`, one short-lived CompassSession scope per
    * query, and return one [[CompassRun]] each, in `names` order. Each
    * query's sketch jobs, splice and execution are independent, so they
    * go through [[submitAll]] like [[runAll]]. The per-SCOPE lastPlan
    * (not the session's default-scope one) proves each query
    * individually took the COMPASS path.
    */
  def runCompassSubset(spark: SparkSession,
      cs: graft.planner.CompassSession,
      names: Seq[String] = compassSubset, m: Int = 1): Seq[CompassRun] = {
    ensureData(spark, m)
    // scope.sql analyzes on cs.spark — the views must live there (r17:
    // that session may be a trimmed child; see JobEntries.compassFor).
    // m > 1: the scale campaign routes the corpus through a PRODUCTION
    // CompassSession over the scaled IMDb (r17 verdict #2).
    registerViews(cs.spark, m)
    val byName = queries.toMap
    submitAll(names, CorpusTimeoutMin.minutes) { name =>
      val scope = cs.newScope()
      try {
        val df = scope.sql(byName(name))
        val plan = scope.lastPlan
          .getOrElse(sys.error(s"JOB $name did not take the COMPASS path"))
        val t0 = System.nanoTime()
        val n = df.head().getLong(0)
        val execMs = (System.nanoTime() - t0) / 1000000
        CompassRun(name, n, plan.sketchBuildMillis, plan.enumerateMillis, execMs)
      } finally cs.dropScope(scope)
    }
  }

  /** Bench facet for the `skipWhenAllBroadcastable` policy (r13 verdict
    * #6): run the 12-family quality subset through two CompassSessions —
    * policy OFF (full pre-pass) and ON — timing ONLY the optimize step
    * (cs.sql builds sketches eagerly; execution is a separate head()),
    * and compare result counts. Returns (offPlanMs, onPlanMs, nSkipped,
    * allEqual). When the scale's big tables exceed the broadcast
    * threshold the policy correctly declines to skip (nSkipped < 12) —
    * the facet reports that honestly rather than forcing the regime.
    */
  final case class SkipPolicyFacet(offPlanMs: Long, onPlanMs: Long,
      nSkipped: Int, families: Int, allEqual: Boolean)

  def measureSkipPolicyAt(spark: SparkSession, m: Int): SkipPolicyFacet = {
    ensureData(spark, m)
    registerViews(spark, m)
    val byName = queries.toMap
    val texts = qualitySubset.map(n => n -> byName(n))
    import graft.planner.{CompassSession, SketchTemplateCache}
    val csOff = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))
    val csOn = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()),
      skipWhenAllBroadcastable = true)
    try {
      // Steady-state planning: warm unfiltered templates for the OFF side
      // (the ON side's whole point is to touch nothing).
      csOff.warmTemplates(texts.map(t => spark.sql(t._2)))
      var offMs = 0L; var onMs = 0L; var skipped = 0; var equal = true
      texts.foreach { case (name, text) =>
        csOff.lastPlan = None
        val t0 = System.nanoTime()
        val dfOff = csOff.sql(text)
        offMs += (System.nanoTime() - t0) / 1000000
        // The OFF side must actually take the COMPASS path: a query that
        // silently stopped being optimizable would otherwise be counted
        // as a successful policy skip (lastPlan None on BOTH sides) and
        // the facet would mask a planner regression as a win.
        require(csOff.lastPlan.nonEmpty,
          s"skip-policy facet: $name did not take the COMPASS path with " +
            "the policy OFF — planner regression, not a skip")
        csOn.lastPlan = None
        val t1 = System.nanoTime()
        val dfOn = csOn.sql(text)
        onMs += (System.nanoTime() - t1) / 1000000
        if (csOn.lastPlan.isEmpty) skipped += 1
        equal &&= dfOff.head().getLong(0) == dfOn.head().getLong(0)
      }
      SkipPolicyFacet(offMs, onMs, skipped, texts.size, equal)
    } finally { csOff.close(); csOn.close() }
  }

  /** A/B the enumerator's estimator math on plan CHOICE over the JOB
    * compass families (r13 verdict #5) — see
    * [[graft.planner.OptimizerQuality.abForQuery]] for the measurement.
    */
  def abEstimatorModes(spark: SparkSession,
      cs: graft.planner.CompassSession,
      families: Seq[String] = compassSubset,
      sfDir: String = ""): Seq[graft.planner.OptimizerQuality.ModeAB] = {
    val m = scaleFor(sfDir)
    ensureData(spark, m)
    registerViews(spark, m)
    val byName = queries.toMap
    families.map(name =>
      graft.planner.OptimizerQuality.abForQuery(spark, cs, name,
        spark.sql(byName(name))))
  }

  /** Behavior-parity A/B of the reference's `adjustPlanForMapD` fix-up
    * over the JOB compass families (r15 verdict #6) — see
    * [[graft.planner.OptimizerQuality.adjustParityForQuery]].
    */
  def abAdjustParity(spark: SparkSession,
      cs: graft.planner.CompassSession,
      families: Seq[String] = compassSubset,
      sfDir: String = ""): Seq[graft.planner.OptimizerQuality.ParityAB] = {
    val m = scaleFor(sfDir)
    ensureData(spark, m)
    registerViews(spark, m)
    val byName = queries.toMap
    families.map(name =>
      graft.planner.OptimizerQuality.adjustParityForQuery(spark, cs, name,
        spark.sql(byName(name))))
  }
}
