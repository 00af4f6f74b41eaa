"""Seeded input of the ``yamr_verbs`` workload.

:func:`write_transactions` writes the reference's transactions TSV
(date, time, location, item, cost, payment) from a seed and returns the
expected ``location -> max(cost)`` answer of the reference job.
"""

from __future__ import annotations

from datetime import date, timedelta

import numpy as np

#: store cities; several have spaces, none has a comma (the comma is
#: the key/value separator of the intermediate lines)
LOCATIONS = [
    "Anchorage", "Atlanta", "Austin", "Baton Rouge", "Birmingham", "Boise",
    "Boston", "Buffalo", "Chandler", "Charlotte", "Chesapeake", "Chicago",
    "Chula Vista", "Cincinnati", "Columbus", "Corpus Christi", "Dallas",
    "Denver", "Detroit", "Durham", "El Paso", "Fort Wayne", "Fort Worth",
    "Fremont", "Fresno", "Garland", "Gilbert", "Glendale", "Greensboro",
    "Henderson", "Hialeah", "Honolulu", "Houston", "Indianapolis", "Irvine",
    "Irving", "Jersey City", "Lakeland", "Laredo", "Las Vegas", "Lexington",
    "Lincoln", "Long Beach", "Los Angeles", "Louisville", "Lubbock",
    "Madison", "Memphis", "Mesa", "Miami", "Milwaukee", "Minneapolis",
    "Nashville", "New Orleans", "New York", "Newark", "Norfolk", "North Las Vegas",
    "Oakland", "Oklahoma City", "Omaha", "Orlando", "Philadelphia", "Phoenix",
    "Pittsburgh", "Plano", "Portland", "Raleigh", "Reno", "Riverside",
    "Rochester", "Sacramento", "Saint Paul", "San Antonio", "San Bernardino",
    "San Diego", "San Francisco", "San Jose", "Santa Ana", "Scottsdale",
    "Seattle", "Spokane", "St. Louis", "St. Petersburg", "Stockton", "Tampa",
    "Toledo", "Tucson", "Tulsa", "Virginia Beach", "Washington", "Wichita",
]
ITEMS = [
    "Baby", "Books", "CDs", "Cameras", "Children's Clothing", "Computers",
    "Consumer Electronics", "Crafts", "DVDs", "Garden", "Health and Beauty",
    "Men's Clothing", "Music", "Pet Supplies", "Sporting Goods", "Toys",
    "Video Games", "Women's Clothing",
]
PAYMENTS = ["Amex", "Cash", "Discover", "MasterCard", "Visa"]
MALFORMED_SHARE = 0.02


def write_transactions(path: str, seed: int, lines: int) -> dict[str, str]:
    """Write ``lines`` TSV transactions to ``path``; return the reference
    job's answer as ``{location: "location,max_cost"}``.

    About 2% of the lines are malformed the way the reference's own data
    is: a multi-word city split by a tab (7 fields) or a dropped payment
    field (5 fields).  The reference mapper skips any line without
    exactly 6 fields, so those lines never reach the answer.
    """
    rng = np.random.default_rng(seed)
    day0 = date(2012, 1, 1)
    loc = rng.integers(0, len(LOCATIONS), lines)
    item = rng.integers(0, len(ITEMS), lines)
    pay = rng.integers(0, len(PAYMENTS), lines)
    cents = rng.integers(1, 50000, lines)  # cost > 0, two decimals
    day = rng.integers(0, 366, lines)
    minute = rng.integers(0, 24 * 60, lines)
    bad = rng.random(lines) < MALFORMED_SHARE
    best: dict[str, float] = {}
    with open(path, "w", encoding="utf-8") as fh:
        for i in range(lines):
            city = LOCATIONS[loc[i]]
            cost = f"{cents[i] // 100}.{cents[i] % 100:02d}"
            fields = [
                (day0 + timedelta(days=int(day[i]))).isoformat(),
                f"{minute[i] // 60:02d}:{minute[i] % 60:02d}",
                city,
                ITEMS[item[i]],
                cost,
                PAYMENTS[pay[i]],
            ]
            if bad[i]:
                if " " in city:
                    fields[2] = city.replace(" ", "\t", 1)
                else:
                    fields.pop()
            else:
                best[city] = max(best.get(city, 0.0), float(cost))
            fh.write("\t".join(fields) + "\n")
    return {city: f"{city},{v}" for city, v in best.items()}
