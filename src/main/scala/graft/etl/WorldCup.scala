package graft.etl

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.Warehouse
import graft.catalog.Warehouse.{ConstraintViolation, FkEdge, TableMeta}
import graft.functions.TextFunctions._
import graft.operators.Relational
import graft.sources.Csv

/** The reference's full 27-table ELT pipeline re-expressed Spark-first
  * (`/root/reference/scripts/build_db.py`, authoritative final schema
  * `/root/reference/docs/schema.sql`; table-name divergences resolved
  * per SURVEY.md §1.4 — `event_type`/`event`/`match_player`/
  * `penalty_kick`/`tournament_manager` are the shipped names).
  *
  * Builders are pure `DataFrame => DataFrame` compositions over a
  * source accessor, so the same pipeline runs on the micro-fixtures in
  * test resources or on the real upstream CSVs. Deterministic surrogate
  * keys order by natural key (SURVEY.md §7.4 hazard 1) — ids can differ
  * from the reference DB (whose row order was engine-internal), but are
  * stable across runs and engines. Final column names (including the
  * reference's spelling quirks: `year_introuced`, `given_type`,
  * `wining_team_id`, `goals_againt`) follow docs/schema.sql verbatim so
  * ad-hoc SQL written against the reference database runs unchanged.
  */
object WorldCup {

  // ---- source schemas (fixture/upstream CSV layouts) ----------------

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  val schemas: Map[String, StructType] = Map(
    "awards" -> st("award_id" -> StringType, "award_name" -> StringType,
      "description" -> StringType, "year_introduced" -> IntegerType),
    "award_winners" -> st("tournament_id" -> StringType,
      "award_id" -> StringType, "player_id" -> StringType),
    "confederations" -> st("confederation_id" -> StringType,
      "confederation_code" -> StringType, "confederation_name" -> StringType,
      "confederation_wikipedia_link" -> StringType),
    "teams" -> st("team_id" -> StringType, "team_code" -> StringType,
      "team_name" -> StringType, "team_wikipedia_link" -> StringType,
      "federation_name" -> StringType, "region_name" -> StringType,
      "federation_wikipedia_link" -> StringType,
      "confederation_id" -> StringType),
    "managers" -> st("manager_id" -> StringType, "family_name" -> StringType,
      "given_name" -> StringType, "country_name" -> StringType),
    "manager_appointments" -> st("tournament_id" -> StringType,
      "team_id" -> StringType, "manager_id" -> StringType),
    "referees" -> st("referee_id" -> StringType, "family_name" -> StringType,
      "given_name" -> StringType, "country_name" -> StringType,
      "confederation_id" -> StringType, "wikipedia_link" -> StringType),
    "referee_appointments" -> st("tournament_id" -> StringType,
      "referee_id" -> StringType),
    "players" -> st("player_id" -> StringType, "family_name" -> StringType,
      "given_name" -> StringType, "birth_date" -> DateType,
      "n_tournaments" -> IntegerType, "wikipedia_link" -> StringType),
    "player_appearances" -> st("match_id" -> StringType,
      "team_id" -> StringType, "player_id" -> StringType,
      "position_code" -> StringType, "position_name" -> StringType,
      "starter" -> IntegerType, "captain" -> IntegerType),
    "stadiums" -> st("stadium_id" -> StringType, "stadium_name" -> StringType,
      "stadium_capacity" -> IntegerType, "city_name" -> StringType,
      "country_name" -> StringType, "stadium_wikipedia_link" -> StringType,
      "city_wikipedia_link" -> StringType),
    "tournaments" -> st("tournament_id" -> StringType,
      "tournament_name" -> StringType, "year" -> IntegerType,
      "start_date" -> DateType, "end_date" -> DateType,
      "count_teams" -> IntegerType, "winner" -> StringType),
    "tournament_stages" -> st("tournament_id" -> StringType,
      "stage_number" -> IntegerType, "stage_name" -> StringType,
      "group_stage" -> IntegerType, "start_date" -> DateType,
      "end_date" -> DateType, "count_matches" -> IntegerType,
      "count_teams" -> IntegerType, "count_scheduled" -> IntegerType,
      "count_replays" -> IntegerType, "count_playoffs" -> IntegerType,
      "count_walkovers" -> IntegerType),
    "qualified_teams" -> st("tournament_id" -> StringType,
      "team_id" -> StringType, "count_matches" -> IntegerType,
      "performance" -> StringType),
    "host_countries" -> st("tournament_id" -> StringType,
      "team_id" -> StringType, "team_name" -> StringType),
    "squads" -> st("tournament_id" -> StringType, "team_id" -> StringType,
      "player_id" -> StringType, "shirt_number" -> IntegerType,
      "position_name" -> StringType, "position_code" -> StringType),
    "matches" -> st("match_id" -> StringType, "tournament_id" -> StringType,
      "match_name" -> StringType, "stage_name" -> StringType,
      "group_name" -> StringType, "home_team_id" -> StringType,
      "away_team_id" -> StringType, "stadium_id" -> StringType,
      "match_date" -> StringType, "match_time" -> StringType,
      "extra_time" -> IntegerType, "penalty_shootout" -> IntegerType,
      "score" -> StringType, "home_team_score" -> IntegerType,
      "away_team_score" -> IntegerType, "result" -> StringType,
      "score_penalties" -> StringType,
      "home_team_score_penalties" -> IntegerType,
      "away_team_score_penalties" -> IntegerType,
      "replayed" -> IntegerType, "replay" -> IntegerType),
    "goals" -> st("match_id" -> StringType, "team_id" -> StringType,
      "player_id" -> StringType, "own_goal" -> IntegerType,
      "penalty" -> IntegerType, "minute_label" -> StringType,
      "minute_regulation" -> IntegerType, "minute_stoppage" -> IntegerType,
      "match_period" -> StringType),
    "bookings" -> st("match_id" -> StringType, "team_id" -> StringType,
      "player_id" -> StringType, "minute_label" -> StringType,
      "minute_regulation" -> IntegerType, "minute_stoppage" -> IntegerType,
      "match_period" -> StringType, "yellow_card" -> IntegerType,
      "second_yellow_card" -> IntegerType, "red_card" -> IntegerType),
    "substitutions" -> st("match_id" -> StringType, "team_id" -> StringType,
      "player_id" -> StringType, "minute_label" -> StringType,
      "minute_regulation" -> IntegerType, "minute_stoppage" -> IntegerType,
      "match_period" -> StringType, "going_off" -> IntegerType,
      "coming_on" -> IntegerType),
    "penalty_kicks" -> st("penalty_kick_id" -> StringType,
      "match_id" -> StringType, "team_id" -> StringType,
      "player_id" -> StringType, "converted" -> IntegerType),
    "team_appearances" -> st("match_id" -> StringType,
      "team_id" -> StringType, "opponent_id" -> StringType,
      "home_team" -> IntegerType, "result" -> StringType,
      "goals_for" -> IntegerType, "goals_against" -> IntegerType,
      "goal_differential" -> IntegerType, "penalty_shootout" -> IntegerType,
      "penalties_for" -> IntegerType, "penalties_against" -> IntegerType),
    "group_standings" -> st("tournament_id" -> StringType,
      "stage_name" -> StringType, "group_name" -> StringType,
      "team_id" -> StringType, "position" -> IntegerType,
      "played" -> IntegerType, "wins" -> IntegerType,
      "draws" -> IntegerType, "losses" -> IntegerType,
      "goals_for" -> IntegerType, "goals_against" -> IntegerType,
      "goal_difference" -> IntegerType, "points" -> IntegerType,
      "advanced" -> IntegerType))

  /** Source accessor over a directory of CSVs laid out per `schemas`. */
  def csvSources(spark: SparkSession, dir: String): String => DataFrame =
    name => Csv.read(spark, s"$dir/$name.csv", schemas(name))

  // ---- shared transform fragments -----------------------------------

  /** The reference's stage_detail rule (build_db.py:758-775, 955-974):
    * group matches keep their group name; knockout stages get the
    * capitalized (de-pluralized when trailing 's') stage name. */
  private def stageDetail(groupName: Column, stageName: Column): Column =
    when(groupName.contains("Group"), groupName)
      .otherwise(when(stageName.endsWith("s"),
        dePluralizeCapitalize(stageName))
        .otherwise(capitalizeFirst(stageName)))

  private def sk(df: DataFrame, prefix: String, orderCols: Seq[Column],
      keep: Seq[Column]): DataFrame =
    Relational.surrogateKey(df, prefix, "id", orderCols)
      .select(col("id") +: keep: _*)

  // ---- the 27 table builders ----------------------------------------

  /** Build every table; returned in FK-dependency order keyed by the
    * authoritative name (docs/schema.sql:4-30). */
  def build(spark: SparkSession, src: String => DataFrame): ListMap[String, DataFrame] = {
    import spark.implicits._

    // award (build_db.py:102-123)
    val award = src("awards").select(col("award_id").as("id"),
      col("award_name").as("name"), col("description"),
      col("year_introduced").as("year_introuced"))

    // city (build_db.py:135-164): dedup stadium cities, surrogate keys
    val city = sk(
      src("stadiums").select("city_name", "country_name",
        "city_wikipedia_link").distinct(),
      "CTY-", Seq(col("city_name"), col("country_name")),
      Seq(col("city_name").as("name"), col("country_name"),
        col("city_wikipedia_link").as("wikipedia_link")))

    // confederation (build_db.py:172-199)
    val confederation = src("confederations").select(
      col("confederation_id").as("id"), col("confederation_code").as("code"),
      col("confederation_name").as("name"),
      col("confederation_wikipedia_link").as("wikipedia_link"))

    // event_type (build_db.py:214-256): literal lookup; replace-FIRST
    // underscore (Polars str.replace semantics — F2), super_type cases
    val eventTypeRows = Seq("goal", "own goal", "penalty", "going_off",
      "coming_on", "yellow_card", "second_yellow_card", "red_card")
    val eventType = eventTypeRows.zipWithIndex
      .map { case (n, i) => (s"EV-${i + 1}", n) }
      .toDF("id", "orig_name")
      .select(col("id"),
        replaceFirst(col("orig_name"), "_", " ").as("name"),
        when(col("orig_name").isin("goal", "own goal", "penalty"), "goal")
          .when(col("orig_name").isin("going_off", "coming_on"), "substitution")
          .otherwise("booking").as("super_type"),
        col("orig_name"))

    // federation (build_db.py:268-306): dedup, Eurasia rewrite
    val federation = sk(
      src("teams").select("federation_name", "region_name",
        "federation_wikipedia_link", "confederation_id").distinct(),
      "FED-", Seq(col("federation_name")),
      Seq(col("federation_name").as("name"),
        when(col("region_name") === "Europe, Asia", "Eurasia")
          .otherwise(col("region_name")).as("region_name"),
        col("federation_wikipedia_link").as("wikipedia_link"),
        col("confederation_id")))

    // manager (build_db.py:317-339)
    val manager = src("managers").select(col("manager_id").as("id"),
      col("family_name"), col("given_name").as("given_type"),
      col("country_name"))

    // position_type (build_db.py:352-385): literal lookup
    val positionType = Seq(
      ("PTYP-1", "GK", "Goal Keeper"), ("PTYP-2", "DF", "Defence"),
      ("PTYP-3", "MF", "Midfield"), ("PTYP-4", "FW", "Forward"))
      .toDF("id", "code", "name")

    // position (build_db.py:401-441): dedup codes, map to type
    val position = sk(
      src("player_appearances").select("position_code", "position_name")
        .distinct(),
      "POS-", Seq(col("position_code")),
      Seq(col("position_code").as("code"), col("position_name").as("name"),
        when(col("position_code") === "GK", "PTYP-1")
          .when(col("position_code").isin("DF", "RB", "LB", "CB", "SW",
            "RWB", "LWB"), "PTYP-2")
          .when(col("position_code").isin("FW", "CF", "SS", "LF", "RF"),
            "PTYP-4")
          .otherwise("PTYP-3").as("position_type_id")))

    // player (build_db.py:454-479)
    val player = src("players").select(col("player_id").as("id"),
      col("family_name"), col("given_name").as("given_type"),
      col("birth_date"), col("n_tournaments"), col("wikipedia_link"))

    // referee (build_db.py:487-512)
    val referee = src("referees").select(col("referee_id").as("id"),
      col("family_name"), col("given_name").as("given_type"),
      col("country_name"), col("confederation_id"), col("wikipedia_link"))

    // stage (build_db.py:568-606): dedup names, capitalize, Group/Knockout
    val stage = sk(
      src("tournament_stages").select("stage_name", "group_stage").distinct(),
      "STG-", Seq(col("stage_name")),
      Seq(capitalizeFirst(col("stage_name")).as("name"),
        when(col("group_stage") === 1, "Group").otherwise("Knockout")
          .as("type"),
        col("stage_name").as("orig_stage_name")))

    // team (build_db.py:617-646): resolve federation_id by name
    val team = src("teams")
      .join(federation.select(col("id").as("federation_id"),
        col("name").as("federation_name")), Seq("federation_name"))
      .select(col("team_id").as("id"), col("team_code").as("code"),
        col("team_name").as("name"),
        col("team_wikipedia_link").as("wikipedia_link"),
        col("federation_id"))

    // stadium (build_db.py:522-555): resolve city_id by name
    val stadium = src("stadiums")
      .join(city.select(col("id").as("city_id"),
        col("name").as("city_name")), Seq("city_name"))
      .select(col("stadium_id").as("id"), col("stadium_name").as("name"),
        col("stadium_capacity").as("capacity"),
        col("stadium_wikipedia_link").as("wikipedia_link"), col("city_id"))

    // tournament (build_db.py:658-693): winner name -> team id (J2)
    val tournament = src("tournaments")
      .join(team.select(col("id").as("wining_team_id"),
        col("name").as("winner")), Seq("winner"))
      .select(col("tournament_id").as("id"),
        col("tournament_name").as("name"), col("year"), col("start_date"),
        col("end_date"), col("count_teams").as("n_team"),
        col("wining_team_id"))

    // tournament_referee (build_db.py:706-728)
    val tournamentReferee = src("referee_appointments")
      .select("tournament_id", "referee_id")

    // tournament_schedule (build_db.py:736-807): composite-key join (J3)
    val tournamentSchedule = src("matches")
      .select("tournament_id", "stage_name", "group_name")
      .join(src("tournament_stages"), Seq("tournament_id", "stage_name"))
      .distinct()
      .join(stage.select(col("id").as("stage_id"), col("orig_stage_name")),
        col("stage_name") === col("orig_stage_name"))
      .select(col("tournament_id"), col("stage_id"),
        stageDetail(col("group_name"), col("stage_name")).as("stage_detail"),
        col("stage_number").as("sort_order"), col("start_date"),
        col("end_date"), col("count_matches").as("n_matches"),
        col("count_teams").as("n_teams"),
        col("count_scheduled").as("n_scheduled"),
        col("count_replays").as("n_replays"),
        col("count_playoffs").as("n_playoffs"),
        col("count_walkovers").as("n_walkovers"))
      .distinct()

    // tournament_team (build_db.py:817-857): left join -> is_host (J4)
    val hosts = src("host_countries")
      .select(col("tournament_id"), col("team_id"),
        col("team_name").as("host_team_name"))
    val tournamentTeam = src("qualified_teams")
      .join(hosts, Seq("tournament_id", "team_id"), "left")
      .select(col("tournament_id"), col("team_id"),
        col("count_matches").as("n_matches"), col("performance"),
        col("host_team_name").isNotNull.as("is_host"))

    // tournament_manager (build_db.py:867-891)
    val tournamentManager = src("manager_appointments")
      .select("tournament_id", "team_id", "manager_id")

    // tournament_squad (build_db.py:896-937): shirt 0 -> NULL (P12)
    val tournamentSquad = src("squads")
      .join(position.select(col("id").as("position_id"),
        col("name").as("position_name")), Seq("position_name"))
      .select(col("tournament_id"), col("team_id"), col("player_id"),
        when(col("shirt_number") =!= 0, col("shirt_number"))
          .cast("string").as("shirt_number"),
        col("position_id"))

    // match (build_db.py:943-1040): stage resolve, datetime parse (F5),
    // FT/ET/PS, shootout-score nulling (P12)
    val matchDf = src("matches")
      .join(stage.select(col("id").as("stage_id"), col("orig_stage_name")),
        col("stage_name") === col("orig_stage_name"))
      .select(col("match_id").as("id"), col("tournament_id"), col("stage_id"),
        stageDetail(col("group_name"), col("stage_name")).as("stage_detail"),
        col("home_team_id"), col("away_team_id"),
        col("match_name").as("name"),
        to_timestamp(concat(col("match_date"), lit(" "), col("match_time")),
          "yyyy-MM-dd HH:mm").as("datetime"),
        col("stadium_id"),
        when(col("extra_time") + col("penalty_shootout") === 0, "FT")
          .when(col("extra_time") + col("penalty_shootout") === 1, "ET")
          .otherwise("PS").as("completed"),
        col("result"), col("score"), col("home_team_score"),
        col("away_team_score"),
        when(col("penalty_shootout") === 1, col("score_penalties"))
          .as("penalty_shootout_score"),
        when(col("penalty_shootout") === 1, col("home_team_score_penalties"))
          .as("home_team_penalty_score"),
        when(col("penalty_shootout") === 1, col("away_team_score_penalties"))
          .as("away_team_penalty_score"))

    // event (build_db.py:1045-1146): goals + melted bookings +
    // melted substitutions, diagonal union (A3/A4). Keys are MEV- +
    // md5(natural key, per-key ordinal) — deterministic like the
    // reference's row-order ids but fully distributed: the biggest
    // table in the schema never collapses to a one-partition window
    val evIds = Seq("match_id", "team_id", "player_id", "minute_label",
      "minute_regulation", "minute_stoppage", "match_period")
    val goalsLong = src("goals").select(
      col("match_id"), col("team_id"), col("player_id"), col("minute_label"),
      col("minute_regulation"), col("minute_stoppage"), col("match_period"),
      when(col("own_goal") === 1, "own goal")
        .when(col("penalty") === 1, "penalty")
        .otherwise("goal").as("variable"))
    val bookingsLong = Relational.unpivotFlags(src("bookings"), evIds,
      Seq("yellow_card", "second_yellow_card", "red_card"))
      .filter(col("value") === 1).drop("value")
    val subsLong = Relational.unpivotFlags(src("substitutions"), evIds,
      Seq("going_off", "coming_on"))
      .filter(col("value") === 1).drop("value")
    val event = Relational.unionDiagonal(Seq(goalsLong, bookingsLong, subsLong))
      .join(broadcast(eventType.select(col("id").as("event_type_id"),
        col("orig_name"))), col("variable") === col("orig_name"))
      .transform(df => Relational.factKey(df, "MEV-", "id",
        naturalKey = Seq(col("match_id"), col("team_id"), col("player_id"),
          col("event_type_id"), col("minute_label")),
        tieBreak = Seq(col("minute_regulation"), col("minute_stoppage"),
          col("match_period"))))
      .select("id", "match_id", "team_id", "player_id", "event_type_id",
        "minute_label", "minute_regulation", "minute_stoppage",
        "match_period")

    // penalty_kick (build_db.py:1149-1178)
    val penaltyKick = src("penalty_kicks").select(
      col("penalty_kick_id").as("id"), col("match_id"), col("team_id"),
      col("player_id"), (col("converted") === 1).as("did_convert"))

    // match_replay (build_db.py:1183-1217): filtered self-join (J5)
    val m = src("matches")
    val matchReplay = m.filter(col("replayed") === 1).as("a")
      .join(m.filter(col("replay") === 1).as("b"),
        col("a.home_team_id") === col("b.home_team_id") &&
          col("a.away_team_id") === col("b.away_team_id"))
      .select(col("a.match_id").as("first_match_id"),
        col("b.match_id").as("second_match_id"))

    // match_player (build_db.py:1224-1260)
    val matchPlayer = src("player_appearances")
      .join(position.select(col("id").as("position_id"),
        col("code").as("position_code")), Seq("position_code"))
      .select(col("match_id"), col("team_id"), col("player_id"),
        col("position_id"), (col("starter") === 1).as("is_starter"),
        (col("captain") === 1).as("is_captain"))

    // team_appearance (build_db.py:1267-1327): home/away label,
    // shootout nulling + differential (A5)
    val teamAppearance = src("team_appearances").select(
      col("match_id"), col("team_id"), col("opponent_id").as("opponent_team_id"),
      when(col("home_team") === 1, "home").otherwise("away").as("home_away"),
      col("result"), col("goals_for"), col("goals_against").as("goals_againt"),
      col("goal_differential"),
      when(col("penalty_shootout") === 1, col("penalties_for"))
        .as("penalties_for"),
      when(col("penalty_shootout") === 1, col("penalties_against"))
        .as("penalties_againt"),
      when(col("penalty_shootout") === 1,
        col("penalties_for") - col("penalties_against"))
        .as("penalties_differential"))

    // award_winner (build_db.py:1332-1356)
    val awardWinner = src("award_winners")
      .select("tournament_id", "award_id", "player_id")

    // tournament_team_group_performance (build_db.py:1362-1418)
    val groupPerf = src("group_standings")
      .join(stage.select(col("id").as("stage_id"), col("orig_stage_name")),
        col("stage_name") === col("orig_stage_name"))
      .select(col("tournament_id"), col("stage_id"),
        col("group_name").as("stage_detail"), col("team_id"), col("position"),
        col("played").as("n_played"), col("wins").as("n_wins"),
        col("draws").as("n_draws"), col("losses").as("n_losses"),
        col("goals_for"), col("goals_against"), col("goal_difference"),
        col("points"), (col("advanced") === 1).as("did_advance"))

    ListMap(
      "confederation" -> confederation,
      "city" -> city,
      "award" -> award,
      "event_type" -> eventType.drop("orig_name"),
      "federation" -> federation,
      "manager" -> manager,
      "position_type" -> positionType,
      "position" -> position,
      "player" -> player,
      "referee" -> referee,
      "stage" -> stage.drop("orig_stage_name"),
      "team" -> team,
      "stadium" -> stadium,
      "tournament" -> tournament,
      "tournament_referee" -> tournamentReferee,
      "tournament_schedule" -> tournamentSchedule,
      "tournament_team" -> tournamentTeam,
      "tournament_manager" -> tournamentManager,
      "tournament_squad" -> tournamentSquad,
      "match" -> matchDf,
      "event" -> event,
      "penalty_kick" -> penaltyKick,
      "match_replay" -> matchReplay,
      "match_player" -> matchPlayer,
      "team_appearance" -> teamAppearance,
      "award_winner" -> awardWinner,
      "tournament_team_group_performance" -> groupPerf)
  }

  // ---- constraint metadata (docs/schema.sql) ------------------------

  private def fk(cols: String, ref: String, refCols: String = "id") =
    FkEdge(cols.split(",").toSeq, ref, refCols.split(",").toSeq)

  val metas: Map[String, TableMeta] = Seq(
    TableMeta("confederation", pk = Seq("id")),
    TableMeta("city", pk = Seq("id")),
    TableMeta("award", pk = Seq("id")),
    TableMeta("event_type", pk = Seq("id")),
    TableMeta("federation", pk = Seq("id"),
      fks = Seq(fk("confederation_id", "confederation"))),
    TableMeta("manager", pk = Seq("id")),
    TableMeta("position_type", pk = Seq("id")),
    TableMeta("position", pk = Seq("id"),
      fks = Seq(fk("position_type_id", "position_type"))),
    TableMeta("player", pk = Seq("id")),
    TableMeta("referee", pk = Seq("id")),
    TableMeta("stage", pk = Seq("id")),
    TableMeta("team", pk = Seq("id"),
      fks = Seq(fk("federation_id", "federation"))),
    TableMeta("stadium", pk = Seq("id"),
      fks = Seq(fk("city_id", "city"))),
    TableMeta("tournament", pk = Seq("id"),
      fks = Seq(fk("wining_team_id", "team"))),
    TableMeta("tournament_referee",
      pk = Seq("tournament_id", "referee_id"),
      fks = Seq(fk("tournament_id", "tournament"), fk("referee_id", "referee"))),
    TableMeta("tournament_schedule",
      pk = Seq("tournament_id", "stage_id", "stage_detail"),
      fks = Seq(fk("tournament_id", "tournament"), fk("stage_id", "stage"))),
    TableMeta("tournament_team",
      pk = Seq("tournament_id", "team_id"),
      fks = Seq(fk("tournament_id", "tournament"), fk("team_id", "team"))),
    TableMeta("tournament_manager",
      pk = Seq("tournament_id", "manager_id"),
      fks = Seq(fk("tournament_id", "tournament"), fk("team_id", "team"),
        fk("manager_id", "manager"))),
    TableMeta("tournament_squad",
      pk = Seq("tournament_id", "team_id", "player_id"),
      fks = Seq(fk("tournament_id", "tournament"), fk("team_id", "team"),
        fk("player_id", "player"), fk("position_id", "position"))),
    TableMeta("match", pk = Seq("id"),
      fks = Seq(fk("tournament_id", "tournament"), fk("stage_id", "stage"),
        fk("home_team_id", "team"), fk("away_team_id", "team"),
        fk("stadium_id", "stadium"))),
    TableMeta("event", pk = Seq("id"),
      fks = Seq(fk("match_id", "match"), fk("team_id", "team"),
        fk("player_id", "player"), fk("event_type_id", "event_type"))),
    TableMeta("penalty_kick", pk = Seq("id"),
      fks = Seq(fk("match_id", "match"), fk("team_id", "team"),
        fk("player_id", "player"))),
    TableMeta("match_replay",
      pk = Seq("first_match_id", "second_match_id"),
      fks = Seq(fk("first_match_id", "match"), fk("second_match_id", "match"))),
    TableMeta("match_player",
      pk = Seq("match_id", "player_id"),
      fks = Seq(fk("match_id", "match"), fk("team_id", "team"),
        fk("player_id", "player"), fk("position_id", "position"))),
    TableMeta("team_appearance",
      pk = Seq("match_id", "team_id"),
      fks = Seq(fk("team_id", "team"), fk("opponent_team_id", "team"))),
    TableMeta("award_winner",
      pk = Seq("tournament_id", "award_id", "player_id")),
    TableMeta("tournament_team_group_performance",
      pk = Seq("tournament_id", "stage_id", "stage_detail", "team_id"),
      fks = Seq(fk("tournament_id", "tournament"), fk("stage_id", "stage"),
        fk("team_id", "team")))
  ).map(m => m.name -> m).toMap

  /** Build all 27 tables from a CSV directory and load them into the
    * Warehouse in dependency order with constraint validation — the
    * whole reference pipeline, end to end. Returns all violations
    * (empty = every DuckDB INSERT would have succeeded). */
  def loadAll(spark: SparkSession, csvDir: String): Seq[ConstraintViolation] = {
    val src = csvSources(spark, csvDir)
    build(spark, src).toSeq.flatMap { case (name, df) =>
      Warehouse.load(spark, df, metas(name))
    }
  }
}
