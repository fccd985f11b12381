"""Seeded OpenWeatherMap-shaped forecast payloads for the
``weather_incremental`` workload, and the model of what the engine's
sinks must hold after each batch.

Batch ``b`` carries, for every city, the 40 three-hour forecast slots
``b .. b+39``. Consecutive batches therefore overlap in 39 of 40 slots:
the idempotent append must reject those rows and land only the newest
slot. A slot's readings depend only on (seed, slot, city), so a slot
offered again in a later batch carries the same values.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

SLOTS_PER_BATCH = 40
SLOT_SECONDS = 3 * 3600
# Late December, so a run's batches straddle an ISO-year boundary and the
# weekly report sees week 52/1 rollover.
FIRST_SLOT = int(dt.datetime(2024, 12, 20, tzinfo=dt.timezone.utc).timestamp())
COUNTRIES = ("IN", "US", "GB", "DE", "FR", "JP", "BR", "AU", "CA", "ZA")
DESCRIPTIONS = (
    "clear sky", "few clouds", "scattered clouds", "broken clouds",
    "overcast clouds", "light rain", "moderate rain", "heavy intensity rain",
    "light snow", "snow", "mist", "fog", "haze", "thunderstorm", "drizzle",
)


def half_up(x: float, places: int = 2) -> float:
    """Spark's ``round``: HALF_UP on the shortest decimal form of x."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


class WeatherFeed:
    def __init__(self, seed: int, n_cities: int = 2000) -> None:
        rng = np.random.default_rng([seed, 0])
        self.seed = seed
        self.n_cities = n_cities
        self.countries = [COUNTRIES[i] for i in rng.integers(0, len(COUNTRIES), n_cities)]
        self.names = [f"City{i:05d}" for i in range(n_cities)]
        self.lat = np.round(rng.uniform(-90, 90, n_cities), 4)
        self.lon = np.round(rng.uniform(-180, 180, n_cities), 4)
        self._slots: dict[int, tuple] = {}

    def slot(self, k: int) -> tuple:
        """(kelvin, humidity, wind m/s, description index) per city."""
        got = self._slots.get(k)
        if got is None:
            rng = np.random.default_rng([self.seed, 1, k])
            n = self.n_cities
            got = (
                np.round(rng.uniform(230.0, 330.0, n), 2).tolist(),
                rng.integers(0, 101, n).tolist(),
                np.round(rng.uniform(0.0, 40.0, n), 2).tolist(),
                rng.integers(0, len(DESCRIPTIONS), n).tolist(),
            )
            self._slots[k] = got
        return got

    def batch(self, b: int) -> list[dict]:
        """Payloads of batch ``b``: one document per city."""
        slots = [(FIRST_SLOT + k * SLOT_SECONDS, self.slot(k))
                 for k in range(b, b + SLOTS_PER_BATCH)]
        return [
            {
                "list": [
                    {
                        "dt": t,
                        "main": {"temp": temp[c], "humidity": hum[c]},
                        "wind": {"speed": wind[c]},
                        "weather": [{"description": DESCRIPTIONS[desc[c]]}],
                    }
                    for t, (temp, hum, wind, desc) in slots
                ],
                "city": {
                    "name": self.names[c],
                    "country": self.countries[c],
                    "coord": {"lat": float(self.lat[c]), "lon": float(self.lon[c])},
                },
            }
            for c in range(self.n_cities)
        ]

    # -- expected results ----------------------------------------------------
    def distinct_keys_after(self, b: int) -> int:
        """(country, city, weatherDate) keys in a sink after batches 0..b."""
        return self.n_cities * (SLOTS_PER_BATCH + b)

    def weekly_avg_rows(self, b: int) -> list[tuple]:
        """Rows the weekly average temperature report gains from batch ``b``:
        (country, city, ISO week, average °C rounded half-up to 2 places)."""
        acc: dict[tuple, list[float]] = defaultdict(list)
        for k in range(b, b + SLOTS_PER_BATCH):
            week = dt.datetime.fromtimestamp(
                FIRST_SLOT + k * SLOT_SECONDS, dt.timezone.utc
            ).isocalendar().week
            temps = self.slot(k)[0]
            for c in range(self.n_cities):
                acc[(self.countries[c], self.names[c], week)].append(
                    half_up(temps[c] - 273.15)
                )
        return [(*key, half_up(sum(v) / len(v))) for key, v in acc.items()]
