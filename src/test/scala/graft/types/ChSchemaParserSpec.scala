package graft.types

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.dialect.SqlLex

class ChSchemaParserSpec extends AnyFunSuite {

  /** The NYC-taxi schema string embedded in every CSV table-function call
    * (reference `temporal/workflow_query_executor_test.go:44`). */
  val taxi =
    "pickup_date Date, id UInt64, vendor_id String, tpep_pickup_datetime DateTime, " +
    "tpep_dropoff_datetime DateTime, passenger_count UInt8, trip_distance Float32, " +
    "pickup_longitude Float32, pickup_latitude Float32, rate_code_id String, " +
    "store_and_fwd_flag String, dropoff_longitude Float32, dropoff_latitude Float32, " +
    "payment_type LowCardinality(String), fare_amount Float32, extra String, " +
    "mta_tax Float32, tip_amount Float32, tolls_amount Float32, " +
    "improvement_surcharge Float32, total_amount Float32, congestion_surcharge Float32, " +
    "pickup_location_id UInt16, dropoff_location_id UInt16"

  test("taxi schema round-trips with the SURVEY §1.2 mapping") {
    val st = ChSchemaParser.parse(taxi)
    assert(st.length == 24)
    assert(st("pickup_date").dataType == DateType)
    assert(st("id").dataType == LongType) // UInt64 → Long (documented caveat)
    assert(st("tpep_pickup_datetime").dataType == TimestampType)
    assert(st("passenger_count").dataType == ShortType) // UInt8 widens
    assert(st("trip_distance").dataType == FloatType)
    assert(st("payment_type").dataType == StringType) // LowCardinality unwrapped
    assert(st("pickup_location_id").dataType == IntegerType) // UInt16 widens
  }

  /** Full 63-column github_events column list from the ATTACH statement
    * (reference `temporal/workflow_query_executor_test.go:85`). */
  val githubEvents: String = {
    val enumEvent = "Enum8('CommitCommentEvent' = 1, 'CreateEvent' = 2, 'DeleteEvent' = 3, " +
      "'ForkEvent' = 4, 'GollumEvent' = 5, 'IssueCommentEvent' = 6, 'IssuesEvent' = 7, " +
      "'MemberEvent' = 8, 'PublicEvent' = 9, 'PullRequestEvent' = 10, " +
      "'PullRequestReviewCommentEvent' = 11, 'PushEvent' = 12, 'ReleaseEvent' = 13, " +
      "'SponsorshipEvent' = 14, 'WatchEvent' = 15, 'GistEvent' = 16, 'FollowEvent' = 17, " +
      "'DownloadEvent' = 18, 'PullRequestReviewEvent' = 19, 'ForkApplyEvent' = 20, " +
      "'Event' = 21, 'TeamAddEvent' = 22)"
    val enumAction = "Enum8('none' = 0, 'created' = 1, 'added' = 2, 'edited' = 3, " +
      "'deleted' = 4, 'opened' = 5, 'closed' = 6, 'reopened' = 7, 'assigned' = 8, " +
      "'unassigned' = 9, 'labeled' = 10, 'unlabeled' = 11, 'review_requested' = 12, " +
      "'review_request_removed' = 13, 'synchronize' = 14, 'started' = 15, 'published' = 16, " +
      "'update' = 17, 'create' = 18, 'fork' = 19, 'merged' = 20)"
    s"""`file_time` DateTime, `event_type` $enumEvent, `actor_login` LowCardinality(String),
       |`repo_name` LowCardinality(String), `created_at` DateTime, `updated_at` DateTime,
       |`action` $enumAction, `comment_id` UInt64, `body` String, `path` String,
       |`position` Int32, `line` Int32, `ref` LowCardinality(String),
       |`ref_type` Enum8('none' = 0, 'branch' = 1, 'tag' = 2, 'repository' = 3, 'unknown' = 4),
       |`creator_user_login` LowCardinality(String), `number` UInt32, `title` String,
       |`labels` Array(LowCardinality(String)),
       |`state` Enum8('none' = 0, 'open' = 1, 'closed' = 2), `locked` UInt8,
       |`assignee` LowCardinality(String), `assignees` Array(LowCardinality(String)),
       |`comments` UInt32,
       |`author_association` Enum8('NONE' = 0, 'CONTRIBUTOR' = 1, 'OWNER' = 2, 'COLLABORATOR' = 3, 'MEMBER' = 4, 'MANNEQUIN' = 5),
       |`closed_at` DateTime, `merged_at` DateTime, `merge_commit_sha` String,
       |`requested_reviewers` Array(LowCardinality(String)),
       |`requested_teams` Array(LowCardinality(String)), `head_ref` LowCardinality(String),
       |`head_sha` String, `base_ref` LowCardinality(String), `base_sha` String,
       |`merged` UInt8, `mergeable` UInt8, `rebaseable` UInt8,
       |`mergeable_state` Enum8('unknown' = 0, 'dirty' = 1, 'clean' = 2, 'unstable' = 3, 'draft' = 4),
       |`merged_by` LowCardinality(String), `review_comments` UInt32,
       |`maintainer_can_modify` UInt8, `commits` UInt32, `additions` UInt32,
       |`deletions` UInt32, `changed_files` UInt32, `diff_hunk` String,
       |`original_position` UInt32, `commit_id` String, `original_commit_id` String,
       |`push_size` UInt32, `push_distinct_size` UInt32, `member_login` LowCardinality(String),
       |`release_tag_name` String, `release_name` String,
       |`review_state` Enum8('none' = 0, 'approved' = 1, 'changes_requested' = 2, 'commented' = 3, 'dismissed' = 4, 'pending' = 5)""".stripMargin
  }

  test("github_events ATTACH column list parses (54 columns)") {
    val st = ChSchemaParser.parse(githubEvents)
    assert(st.length == 54)
    assert(st("event_type").dataType == StringType)
    // enum name↔code map retained for CAST(enum AS Int) compat
    val meta = st("event_type").metadata
    assert(meta.getStringArray("ch.enum.names").head == "CommitCommentEvent")
    assert(meta.getLongArray("ch.enum.codes").last == 22L)
    assert(st("labels").dataType == ArrayType(StringType, containsNull = false))
    assert(st("comment_id").dataType == LongType)
    assert(st("commits").dataType == LongType) // UInt32 widens to Long
    assert(st("position").dataType == IntegerType)
    assert(st("locked").dataType == ShortType)
  }

  test("wrappers and containers") {
    val st = ChSchemaParser.parse(
      "a Nullable(Int32), b Array(Nullable(String)), c Map(String, UInt32), " +
      "d Tuple(x Int64, y String), e Decimal(12, 3), f DateTime64(3), g FixedString(16)")
    assert(st("a").dataType == IntegerType)
    assert(st("b").dataType == ArrayType(StringType, containsNull = true))
    assert(st("c").dataType == MapType(StringType, LongType, valueContainsNull = false))
    assert(st("d").dataType == StructType(Seq(
      StructField("x", LongType, false), StructField("y", StringType, false))))
    assert(st("e").dataType == DecimalType(12, 3))
    assert(st("f").dataType == TimestampType)
    assert(st("g").dataType == StringType)
  }

  test("column options: DEFAULT recorded, CODEC/COMMENT stripped, MATERIALIZED refuses") {
    val defs = ChSchemaParser.columnDefs(
      "id Int64, s String DEFAULT 'none' COMMENT 'label', " +
        "v Float64 DEFAULT 2.5 CODEC(ZSTD(3)), " +
        "e Enum8('DEFAULT' = 1, 'b' = 2)")
    assert(defs.map(d => (d._1, d._2)) == Seq(
      "id" -> "Int64", "s" -> "String", "v" -> "Float64",
      "e" -> "Enum8('DEFAULT' = 1, 'b' = 2)"), defs)
    assert(defs(1)._3 == Map("default" -> "'none'", "comment" -> "'label'"))
    assert(defs(2)._3 == Map("default" -> "2.5", "codec" -> "(ZSTD(3))"))
    assert(defs(3)._3.isEmpty) // 'DEFAULT' inside the enum is a VALUE
    // parse() carries the default into field metadata
    val st = ChSchemaParser.parse("s String DEFAULT 'none'")
    assert(st.fields.head.metadata.getString("ch.default") == "'none'")
    // unsupported options refuse loudly
    for (bad <- Seq("m Int64 MATERIALIZED id * 2", "a Int64 ALIAS id",
        "t DateTime TTL t + INTERVAL 1 DAY")) {
      intercept[Exception] { ChSchemaParser.columnDefs(bad) }
    }
    // a type-less default refuses (CH's inference is not supported)
    intercept[Exception] { ChSchemaParser.columnDefs("c DEFAULT 1") }
  }

  test("malformed input fails fast with the offending fragment") {
    val e = intercept[IllegalArgumentException] {
      ChSchemaParser.parse("a Int32, nonsense")
    }
    assert(e.getMessage.contains("nonsense"))
    intercept[IllegalArgumentException] {
      ChSchemaParser.parse("a NotAType")
    }
  }

  test("splitTopLevel respects backticked and double-quoted identifiers (r15)") {
    assert(SqlLex("a, `x,y`, b").splitTopLevel(',').map(_.trim) ==
      Seq("a", "`x,y`", "b"))
    assert(SqlLex("""a, "x,y", b""").splitTopLevel(',').map(_.trim) ==
      Seq("a", "\"x,y\"", "b"))
    // parens inside quoted identifiers do not disturb the depth count
    assert(SqlLex("`v(a`, `w)b`").splitTopLevel(',').map(_.trim) ==
      Seq("`v(a`", "`w)b`"))
    assert(SqlLex("""f(a, b), "g(h", c""").splitTopLevel(',')
      .map(_.trim) == Seq("f(a, b)", "\"g(h\"", "c"))
  }
}
