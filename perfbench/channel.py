"""Seeded YouTube-shaped payload source for the ``pipeline_run`` workload.

One channel with ``n_videos`` videos, listed in 50-item Data API pages,
plus ``n_days`` of analytics: one channel-daily matrix and one envelope
per video for each per-video family. The edge cases of
``sources/fixtures.py`` that survive at this scale are kept: shuffled
matrix headers, lowercase dimension values (``upper()`` normalisation),
an empty traffic source (filtered) and an unknown traffic source (the
warn-only check). Every generation covers the same (video, day, dimension)
keys, so the gold row counts are known in advance (``expected_gold_rows``).
"""

from __future__ import annotations

import datetime as dt
import random
from collections.abc import Iterable
from dataclasses import dataclass

CHANNEL_ID = "UC_bench_channel"
PAGE_SIZE = 50
LAST_DAY = dt.date(2025, 8, 2)
TODAY = "2025-08-04"  # the quality/smoke freshness reference date
TRAFFIC_SOURCES = ["YT_SEARCH", "ext_url", "SHORTS", "", "MYSTERY_SOURCE"]
COUNTRIES = ["US", "de", "XX", "br"]
DEVICES = ["DESKTOP", "mobile", "TV"]


def _matrix(headers: list[str], rows: list[list[str]], rng: random.Random) -> dict:
    """A column-header matrix with the headers (and every row) shuffled
    into one seeded order, as the Analytics API does not fix it."""
    order = list(range(len(headers)))
    rng.shuffle(order)
    return {
        "columnHeaders": [
            {"name": headers[i], "columnType": "DIMENSION", "dataType": "STRING"}
            for i in order
        ],
        "rows": [[r[i] for i in order] for r in rows],
    }


def _distinct_keys(values: list[str]) -> int:
    return len({v.upper() for v in values if v})


@dataclass(frozen=True)
class ChannelSource:
    """PayloadSource for one generation; ``gen`` moves every metric and
    re-titles a seeded tenth of the videos (an SCD2 change)."""

    seed: int
    gen: int
    n_videos: int = 25
    n_days: int = 7

    @property
    def video_ids(self) -> list[str]:
        return [f"v{self.seed % 1000:03d}_{i:04d}" for i in range(self.n_videos)]

    @property
    def days(self) -> list[str]:
        return [
            (LAST_DAY - dt.timedelta(days=self.n_days - 1 - i)).isoformat()
            for i in range(self.n_days)
        ]

    def _rng(self, salt: str) -> random.Random:
        return random.Random(f"{self.seed}:{self.gen}:{salt}")

    def expected_gold_rows(self) -> dict[str, int]:
        vd = self.n_videos * self.n_days
        return {
            "gold.gold_channel_daily_summary": self.n_days,
            "gold.gold_video_daily_summary": vd,
            "gold.gold_video_country_daily_summary": vd * _distinct_keys(COUNTRIES),
            "gold.gold_video_device_daily_summary": vd * _distinct_keys(DEVICES),
            "gold.gold_video_traffic_source_daily_summary": vd
            * _distinct_keys(TRAFFIC_SOURCES),
        }

    def _channel(self) -> dict:
        rng = self._rng("channel")
        return {
            "items": [
                {
                    "id": CHANNEL_ID,
                    "snippet": {
                        "title": f"Bench Channel v{self.gen}",
                        "description": "A benchmark channel",
                        "customUrl": "@benchchannel",
                        "country": "US",
                        "publishedAt": "2019-03-01T10:00:00Z",
                    },
                    "statistics": {
                        "viewCount": str(rng.randint(10**6, 10**7)),
                        "subscriberCount": str(rng.randint(10**4, 10**5)),
                        "hiddenSubscriberCount": False,
                        "videoCount": str(self.n_videos),
                    },
                }
            ]
        }

    def _video_item(self, vid: str, rng: random.Random, changed: bool) -> dict:
        base = random.Random(f"{self.seed}:{vid}")  # generation-invariant
        day = base.randint(1, 28)
        return {
            "id": vid,
            "snippet": {
                "channelId": CHANNEL_ID,
                "title": f"{vid} title" + (f" v{self.gen}" if changed else ""),
                "description": base.choice(["desc", "", None]),
                "publishedAt": f"2024-{base.randint(1, 12):02d}-{day:02d}T00:00:00Z",
                "defaultLanguage": "en",
                "defaultAudioLanguage": "en",
            },
            "contentDetails": {
                "duration": f"PT{base.randint(1, 59)}M",
                "dimension": "2d",
                "definition": base.choice(["hd", "sd"]),
                "caption": "false",
                "licensedContent": True,
                "projection": "rectangular",
            },
            "status": {
                "uploadStatus": "processed",
                "privacyStatus": "public",
                "embeddable": True,
                "publicStatsViewable": True,
                "madeForKids": False,
                "selfDeclaredMadeForKids": False,
            },
            "topicDetails": {"topicCategories": ["music", "entertainment"]},
            "statistics": {
                "viewCount": str(rng.randint(100, 10**6)),
                "likeCount": str(rng.randint(0, 10**4)),
                "favoriteCount": "0",
                "commentCount": str(rng.randint(0, 10**3)),
            },
        }

    def _pages(self) -> Iterable[tuple[str, dict]]:
        rng = self._rng("videos")
        vids = self.video_ids
        for p in range(0, len(vids), PAGE_SIZE):
            page = vids[p : p + PAGE_SIZE]
            items = [self._video_item(v, rng, rng.random() < 0.1) for v in page]
            yield "videos_raw", {"items": items}
            yield "playlist_items_raw", {
                "items": [{"contentDetails": {"videoId": v}} for v in page],
                "item_count": len(vids),
                "page_count": -(-len(vids) // PAGE_SIZE),
                "playlist_id": "UU_bench_channel",
            }

    def _channel_daily(self) -> dict:
        rng = self._rng("channel_daily")
        headers = [
            "day", "views", "likes", "comments", "estimatedMinutesWatched",
            "subscribersGained", "subscribersLost",
        ]
        rows = [
            [d, *(str(rng.randint(0, 10**4)) for _ in range(4)),
             str(rng.randint(0, 50)), str(rng.randint(0, 20))]
            for d in self.days
        ]
        return _matrix(headers, rows, rng)

    def _per_video(self, vid: str) -> Iterable[tuple[str, dict]]:
        rng = self._rng(vid)
        n = lambda hi: str(rng.randint(0, hi))  # noqa: E731
        yield "analytics_video_daily_raw", _matrix(
            ["video", "day", "views", "likes", "comments",
             "estimatedMinutesWatched", "averageViewDuration"],
            [[vid, d, n(5000), n(500), n(50), n(20000), f"{rng.uniform(10, 600):.1f}"]
             for d in self.days],
            rng,
        )
        for table, header, values in (
            ("analytics_video_traffic_source_daily_raw", "insightTrafficSourceType", TRAFFIC_SOURCES),
            ("analytics_video_country_daily_raw", "country", COUNTRIES),
            ("analytics_video_device_daily_raw", "deviceType", DEVICES),
        ):
            yield table, _matrix(
                ["video", "day", header, "views", "estimatedMinutesWatched"],
                [[vid, d, v, n(1000), n(4000)] for d in self.days for v in values],
                rng,
            )

    def fetch(self, ctx) -> Iterable[tuple[str, dict]]:
        yield "channels_raw", self._channel()
        yield from self._pages()
        yield "analytics_channel_daily_raw", self._channel_daily()
        for vid in self.video_ids:
            yield from self._per_video(vid)
