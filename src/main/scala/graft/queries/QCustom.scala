package graft.queries

import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.functions.{AudioCodec, DecodeS7, EmaAggregator, ImageCodec, S7}
import graft.sinks.{LineProtocol, LineProtocolLocal}
import graft.sources.ConfigXml
import Q._

/** The custom components as query-inventory entries — SURVEY.md §2.1 S1
  * (XML config scan), §2.10 D3 (DecodeS7), D4 (EMA aggregator), S3
  * (line-protocol shaping), plus the multimodal binary-column plumbing.
  */
object QCustom {

  /** Deterministic reference-schema tag catalog (mirrors the XML written by
    * ConfigApp/ConfigApp.py:54-84; address forms from README.md:45-51).
    */
  val SampleConfigXml: String = {
    val plcs = (1 to 3).map { p =>
      // Tag order mirrors the sim source's register cycle (Real, Word,
      // DWord, Bit) so positional enrichment is type-consistent.
      val tags = Seq(
        ("S7WLReal", "S7AreaDB", s"DB$p.DBD0", s"plc${p}_temp", "True", "1s"),
        ("S7WLWord", "S7AreaDB", s"DB$p.DBW4", s"plc${p}_count", "True", "10s"),
        ("S7WLDWord", "S7AreaMK", "MD2", s"plc${p}_total", "True", "min"),
        ("S7WLBit", "S7AreaPE", "I0.3", s"plc${p}_mode", "False", "60s"),
      ).map { case (t, ar, ad, al, ac, iv) =>
        s"<data><data_type>$t</data_type><area>$ar</area><address>$ad</address>" +
          s"<alias>$al</alias><active>$ac</active><interval>$iv</interval></data>"
      }.mkString
      s"""<plc slot="$p">10.0.0.$p$tags</plc>"""
    }.mkString
    s"<communication>$plcs</communication>"
  }

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_config_scan",
      "S1: XML tag-catalog scan → typed Dataset (ref create_my_data_groups, InfluxConnector2.py:250-270)",
      // The catalog XML is deterministic, so the oracle is the expected
      // parse result itself — this checks the DOM scan end-to-end (field
      // positions, slot attribute, bool coercion, active filter, ordering).
      """SELECT * FROM (VALUES
        |  ('10.0.0.1', 1, 'S7WLWord',  'S7AreaDB', 'DB1.DBW4', 'plc1_count', TRUE, '10s'),
        |  ('10.0.0.1', 1, 'S7WLReal',  'S7AreaDB', 'DB1.DBD0', 'plc1_temp',  TRUE, '1s'),
        |  ('10.0.0.1', 1, 'S7WLDWord', 'S7AreaMK', 'MD2',      'plc1_total', TRUE, 'min'),
        |  ('10.0.0.2', 2, 'S7WLWord',  'S7AreaDB', 'DB2.DBW4', 'plc2_count', TRUE, '10s'),
        |  ('10.0.0.2', 2, 'S7WLReal',  'S7AreaDB', 'DB2.DBD0', 'plc2_temp',  TRUE, '1s'),
        |  ('10.0.0.2', 2, 'S7WLDWord', 'S7AreaMK', 'MD2',      'plc2_total', TRUE, 'min'),
        |  ('10.0.0.3', 3, 'S7WLWord',  'S7AreaDB', 'DB3.DBW4', 'plc3_count', TRUE, '10s'),
        |  ('10.0.0.3', 3, 'S7WLReal',  'S7AreaDB', 'DB3.DBD0', 'plc3_temp',  TRUE, '1s'),
        |  ('10.0.0.3', 3, 'S7WLDWord', 'S7AreaMK', 'MD2',      'plc3_total', TRUE, 'min')
        |) AS t(plc, slot, "dataType", area, address, alias, active, interval)
        |ORDER BY plc, alias""".stripMargin) { (s, dir) =>
      ConfigXml.load(s, SampleConfigXml)
        .filter(col("active"))   // P1 at load time, like the reference (:263-264)
        .orderBy("plc", "alias")
        .toDF()
    },

    GraftQuery(
      "q_config_update",
      "S1: batch catalog UPDATE — last-write-wins per alias, applied to ALL rows matching the alias (ref update_element, ConfigApp.py:155-176)",
      // update_element mutates EVERY <data> whose alias matches, and a
      // sequence of updates leaves the last one's values. Batch analogue:
      // catalog = orders keyed by o_orderstatus (non-unique alias → the
      // update-all-matching behavior is observable), updates = lineitem
      // rows keyed by l_linestatus, update sequence = (shipdate, orderkey,
      // linenumber). Rows with an alias no update touches keep their value.
      """WITH upd AS (
        |  SELECT l_linestatus AS alias, l_extendedprice AS new_value,
        |         row_number() OVER (PARTITION BY l_linestatus
        |                            ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
        |  FROM lineitem)
        |SELECT o_orderkey, o_orderstatus AS alias,
        |       round(coalesce(u.new_value, o_totalprice), 2) AS value,
        |       CAST(CASE WHEN u.new_value IS NULL THEN 0 ELSE 1 END AS BIGINT) AS updated
        |FROM orders o
        |LEFT JOIN (SELECT alias, new_value FROM upd WHERE rn = 1) u
        |       ON o.o_orderstatus = u.alias
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // Last write per alias via max(struct(seq..., payload)) — partial-agg
      // (map-side combine) instead of the oracle's window sort: no
      // single-reducer skew when one alias dominates a 100 TB update log.
      val lastUpd = lineitem(s, dir)
        .groupBy(col("l_linestatus").as("alias"))
        .agg(max(struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))).as("w"))
        .select(col("alias"), col("w.l_extendedprice").as("new_value"))
      orders(s, dir)
        .join(broadcast(lastUpd), col("o_orderstatus") === col("alias"), "left")
        .select(col("o_orderkey"), col("o_orderstatus").as("alias"),
          round(coalesce(col("new_value"), col("o_totalprice")), 2).as("value"),
          when(col("new_value").isNull, 0L).otherwise(1L).as("updated"))
        .orderBy("o_orderkey")
    },

    GraftQuery(
      "q_decode_s7",
      "D3: native DecodeS7 Catalyst expression round-trip (codegen'd, ref InfluxConnector2.py:146-170)",
      """SELECT event_id,
        |       CAST((event_id % 65536) - 32768 AS BIGINT) AS w_val,
        |       CAST(CAST(value AS FLOAT) AS DOUBLE) AS r_val,
        |       (user_id >> (event_id % 8)) & 1 AS b_val,
        |       event_id AS d_val
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      DecodeS7.register(s)
      // Buffer synthesis (encode) is test scaffolding via small UDFs; the
      // decode path under test is the native expression.
      val encWord = udf((id: Long) => S7.encodeWord(((id % 65536) - 32768).toShort))
      val encReal = udf((v: Double) => S7.encodeReal(v.toFloat))
      val encBits = udf((u: Long) => S7.encodeBits(u.toInt))
      val encDWord = udf((id: Long) => S7.encodeDWord(id))
      events(s, dir)
        .withColumn("wbuf", encWord(col("event_id")))
        .withColumn("rbuf", encReal(col("value")))
        .withColumn("bbuf", encBits(col("user_id")))
        .withColumn("dbuf", encDWord(col("event_id")))
        .select(col("event_id"),
          expr(s"decode_s7(wbuf, ${S7.WLWord}, 0)").cast("bigint").as("w_val"),
          expr(s"decode_s7(rbuf, ${S7.WLReal}, 0)").as("r_val"),
          expr(s"decode_s7(bbuf, ${S7.WLBit}, CAST(event_id % 8 AS INT))").cast("bigint").as("b_val"),
          expr(s"decode_s7(dbuf, ${S7.WLDWord}, 0)").cast("bigint").as("d_val"))
        .orderBy("event_id")
    },

    GraftQuery(
      "q_ema",
      "D4: order-sensitive EMA per series via a typed Aggregator (forecasting surface, README.md:3)",
      // Closed form of the recurrence ema_i = a*v_i + (1-a)*ema_(i-1),
      // ema_1 = v_1: ema_n = (1-a)^(n-1)*v_1 + sum_{i>=2} a*(1-a)^(n-i)*v_i.
      // FP drift vs the fold is O(n*eps) ~ 1e-12 — far inside round(6).
      """WITH o AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |         count(*)     OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id,
        |       round(sum(CASE WHEN rn = 1 THEN power(0.7, n - 1) * value
        |                      ELSE 0.3 * power(0.7, n - rn) * value END), 6) AS ema
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ds = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      ds.groupByKey(_._1)
        .agg(new EmaAggregator(0.3).toColumn.name("ema"))
        .toDF("user_id", "ema")
        .select(col("user_id"), round(col("ema"), 6).as("ema"))
        .orderBy("user_id")
    },

    GraftQuery(
      "q_multimodal_meta",
      "Extension: multimodal binary columns with a REAL pure-JVM codec (r12) — executor-side " +
        "javax.imageio PNG/BMP decode of opaque media bytes inside typed mapPartitions",
      // The oracle never sees the bytes: it recomputes what a FAITHFUL
      // encode->decode round trip of the deterministic test card must
      // yield (dims from the payload length, pixel (doc_id*31+x*7+y*13)%256)
      // by pure integer arithmetic. Any drift in the real zlib/CRC/BMP
      // codec path, the format sniff, or the raster readback breaks parity.
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
        |p AS (SELECT doc_id, 8 + len % 24 AS w, 8 + (len * 31) % 16 AS h FROM d),
        |s AS (SELECT doc_id, w, h,
        |             sum((doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256) AS pix_sum
        |      FROM (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM p)
        |      GROUP BY doc_id, w, h)
        |SELECT doc_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |       w::BIGINT AS width, h::BIGINT AS height,
        |       (w * h)::BIGINT AS n_pixels,
        |       pix_sum::BIGINT AS pix_sum,
        |       round(pix_sum / (w * h), 4) AS pix_mean,
        |       ((doc_id * 31) % 256)::BIGINT AS first_px,
        |       ((doc_id * 31 + (w - 1) * 7 + (h - 1) * 13) % 256)::BIGINT AS last_px
        |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      // Opaque binary -> typed mapPartitions decode, one image per row, no
      // driver involvement. Encode is fixture scaffolding (the q_decode_s7
      // convention); decode — format sniff off the magic bytes, ImageIO
      // read, raster readback — is the operator under test and a genuine
      // PNG (zlib+CRC) / BMP codec, not a stand-in.
      Q.fanout(documents(s, dir))
        .select(col("doc_id"), expr("octet_length(text)").cast("long").as("len"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, len) =>
          val d = ImageCodec.decode(ImageCodec.encode(id, len))
          (id, d.format, d.width.toLong, d.height.toLong, d.nPixels,
            d.pixSum, d.firstPx.toLong, d.lastPx.toLong)
        })
        .toDF("doc_id", "format", "width", "height", "n_pixels", "pix_sum",
          "first_px", "last_px")
        .withColumn("pix_mean", round(col("pix_sum") / col("n_pixels"), 4))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_multimodal_frames",
      "Extension: frame-sampling over REAL decoded images (r12) — one output row per decoded " +
        "scanline with per-row pixel features, fanned out on the executors",
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
        |p AS (SELECT doc_id, 8 + len % 24 AS w, 8 + (len * 31) % 16 AS h FROM d),
        |ln AS (SELECT doc_id, w, unnest(range(h)) AS y FROM p),
        |px AS (SELECT doc_id, y, unnest(range(w)) AS x FROM ln)
        |SELECT doc_id, y::BIGINT AS frame_idx,
        |       sum((doc_id * 31 + x * 7 + y * 13) % 256)::BIGINT AS row_sum,
        |       ((doc_id * 31 + y * 13) % 256)::BIGINT AS row_first
        |FROM px GROUP BY doc_id, y ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      // The frame grab is now a real decode: mapPartitions emits one row
      // per decoded scanline (flatMap = executor-side fan-out, row count
      // proportional to output, no driver loop), and per-frame features
      // are read from the decoded raster. At 100 TB the fan-out
      // parallelizes per document with no skew beyond media size itself.
      Q.fanout(documents(s, dir))
        .select(col("doc_id"), expr("octet_length(text)").cast("long").as("len"))
        .as[(Long, Long)]
        .mapPartitions(_.flatMap { case (id, len) =>
          ImageCodec.decodeRows(ImageCodec.encode(id, len)).map {
            case (y, rowSum, rowFirst) => (id, y.toLong, rowSum, rowFirst.toLong)
          }
        })
        .toDF("doc_id", "frame_idx", "row_sum", "row_first")
        .orderBy("doc_id", "frame_idx")
    },

    GraftQuery(
      "q_multimodal_filter",
      "Extension (r12): image QUALITY FILTER over decoded media — the multimodal twin of " +
        "the text quality scorers: decode each image (real javax.imageio path), keep docs " +
        "whose decoded resolution and exposure pass the training-set bands",
      // Bands: min resolution 16px wide, mean gray in [100, 160] (the
      // exposure filter an image pipeline runs before training). The
      // oracle recomputes decoded stats arithmetically, so the filter
      // verdict depends on a faithful decode.
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
        |p AS (SELECT doc_id, 8 + len % 24 AS w, 8 + (len * 31) % 16 AS h FROM d),
        |s AS (SELECT doc_id, w, h,
        |             sum((doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256) AS pix_sum
        |      FROM (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM p)
        |      GROUP BY doc_id, w, h)
        |SELECT doc_id, w::BIGINT AS width, h::BIGINT AS height,
        |       round(pix_sum / (w * h), 4) AS pix_mean
        |FROM s
        |WHERE w >= 16 AND pix_sum / (w * h) BETWEEN 100 AND 160
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Q.fanout(documents(s, dir))
        .select(col("doc_id"), expr("octet_length(text)").cast("long").as("len"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, len) =>
          val d = ImageCodec.decode(ImageCodec.encode(id, len))
          (id, d.width.toLong, d.height.toLong,
            d.pixSum.toDouble / (d.width.toLong * d.height))
        })
        .toDF("doc_id", "width", "height", "mean_raw")
        .filter(col("width") >= 16 &&
          col("mean_raw") >= 100 && col("mean_raw") <= 160)
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_raw"), 4).as("pix_mean"))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_multimodal_audio",
      "Extension (r12): audio as the SECOND real-codec modality — executor-side " +
        "javax.sound.sampled decode of genuine RIFF/WAVE PCM bytes: sample rate/bit " +
        "depth read from the DECODED header, sample stats folded from the decoded PCM",
      // Same oracle discipline as the image keys: DuckDB replays the
      // deterministic 16-bit test tone by pure integer arithmetic, so any
      // header or PCM unfaithfulness in the real container round trip
      // breaks hash parity.
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
        |p AS (SELECT doc_id, 64 + len % 192 AS n FROM d),
        |sm AS (SELECT doc_id, n, ((doc_id * 7 + i * 13) % 65536) - 32768 AS s
        |       FROM (SELECT doc_id, n, unnest(range(n)) AS i FROM p))
        |SELECT doc_id, 8000::BIGINT AS sample_rate, 16::BIGINT AS bits,
        |       n::BIGINT AS n_samples, sum(s)::BIGINT AS pcm_sum,
        |       min(s)::BIGINT AS pcm_min, max(s)::BIGINT AS pcm_max
        |FROM sm GROUP BY doc_id, n ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Q.fanout(documents(s, dir))
        .select(col("doc_id"), expr("octet_length(text)").cast("long").as("len"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, len) =>
          val d = AudioCodec.decode(AudioCodec.encode(id, len))
          (id, d.sampleRate.toLong, d.bits.toLong, d.nSamples,
            d.pcmSum, d.pcmMin.toLong, d.pcmMax.toLong)
        })
        .toDF("doc_id", "sample_rate", "bits", "n_samples", "pcm_sum",
          "pcm_min", "pcm_max")
        .orderBy("doc_id")
    },

    GraftQuery(
      "q_multimodal_video",
      "Extension (r13): video as the THIRD real-codec modality — executor-side " +
        "javax.imageio decode of genuine multi-frame ANIMATED GIF bytes (real LZW " +
        "container), with FRAME SAMPLING as the operator: every 2nd decoded frame " +
        "emits one row of raster features — the keyframe-extraction shape of a video " +
        "training pipeline (decode → sample → featurize), fanned out on the executors",
      // Oracle discipline of the image/audio keys: DuckDB replays the
      // deterministic frame arithmetic; any unfaithfulness in the real
      // GIF write->read round trip (palette, LZW, frame enumeration)
      // breaks hash parity.
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
        |p AS (SELECT doc_id, 2 + len % 4 AS nf, 8 + len % 8 AS w,
        |             8 + (len * 31) % 4 AS h FROM d),
        |f AS (SELECT doc_id, nf, w, h, unnest(range(nf)) AS fr FROM p),
        |sampled AS (SELECT * FROM f WHERE fr % 2 = 0),
        |px AS (SELECT doc_id, nf, fr, w, h, unnest(range(w * h)) AS i FROM sampled)
        |SELECT doc_id, nf::BIGINT AS n_frames, fr::BIGINT AS frame_idx,
        |       w::BIGINT AS width, h::BIGINT AS height,
        |       sum((doc_id * 31 + fr * 17 + (i % w) * 7 + (i // w) * 13) % 256)::BIGINT
        |         AS frame_sum,
        |       ((doc_id * 31 + fr * 17) % 256)::BIGINT AS frame_first
        |FROM px GROUP BY doc_id, nf, fr, w, h
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.VideoCodec
      Q.fanout(documents(s, dir))
        .select(col("doc_id"), expr("octet_length(text)").cast("long").as("len"))
        .as[(Long, Long)]
        .mapPartitions(_.flatMap { case (id, len) =>
          val frames = VideoCodec.decode(VideoCodec.encode(id, len))
          val nf = frames.size.toLong
          frames.iterator.filter(_.idx % 2 == 0).map { fr =>
            (id, nf, fr.idx.toLong, fr.width.toLong, fr.height.toLong,
              fr.pixSum, fr.firstPx.toLong)
          }
        })
        .toDF("doc_id", "n_frames", "frame_idx", "width", "height",
          "frame_sum", "frame_first")
        .orderBy("doc_id", "frame_idx")
    },

    GraftQuery(
      "q_line_protocol",
      "S3: line-protocol point shaping (batched sink formatting, fixes per-sample POST of InfluxConnector2.py:176)",
      """SELECT event_id,
        |       'plc-' || user_id || ' ' || event_type || '=' || printf('%.2f', value)
        |         || ' ' || (epoch_us(ts) * 1000) AS line
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      LineProtocol.format(events(s, dir)).orderBy("event_id")
    },

    GraftQuery(
      "q_line_protocol_parse",
      "S3 inverse: parse line-protocol text back to points (wire-format round trip; the read side of InfluxConnector2.py:175-176)",
      // The oracle recomputes what parse(format(events)) must yield
      // straight from the source table — field values compared as the
      // exact wire text (printf twin of the sink's %.2f, proven by
      // q_line_protocol), so no parse-then-recast float asymmetry.
      """SELECT event_id, 'plc-' || user_id AS measurement, event_type AS field,
        |       printf('%.2f', value) AS value_str, epoch_us(ts) * 1000 AS ts_ns
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      // the /write parser, one line at a time on every core; a NULL line
      // keeps its event_id with nulls elsewhere
      Q.fanout(LineProtocol.format(events(s, dir))).as[(Long, String)]
        .mapPartitions(_.map { case (id, line) =>
          Option(line).map(LineProtocolLocal.parseLine) match {
            case None => (id, None, None, None, None)
            case Some(Right(p)) =>
              (id, Some(p.measurement), Some(p.fields.head.key), Some(p.fields.head.str), p.tsNs)
            case Some(Left(why)) =>
              throw new IllegalStateException(s"event $id: formatted line '$line' does not parse: $why")
          }
        })
        .toDF("event_id", "measurement", "field", "value_str", "ts_ns")
        .orderBy("event_id")
    },
  )
}
