package com.example.try

data class TryConfig(val path: String)

fun tryTypeInference(path: String) {
    val config = try {
        TryConfig(path.trim())
    } catch (e: IllegalArgumentException) {
        TryConfig("default")
    }
    println(config.path)
}
