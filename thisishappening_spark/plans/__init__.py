"""Parameterized query builders — the reference's query surface
(`RecentTweets.get_recent_tweets` / `Events.get_recent_events` and the
event PK lookup) as DataFrame plan functions."""
